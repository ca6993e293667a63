"""Tracing for the ``--trace 1`` run, all from the benchmark's side.

Three sources:

- Spans, recorded by wrappers the tracer installs around the public
  functions and methods of the program's modules (name, layer, start,
  end, parent span, op id). They are kept in memory and reduced at the
  end; a span's self time is its duration minus its child spans'.
  Registry and dialect modules bind operator functions with
  ``from … import f``, so after wrapping, every loaded
  ``tdengine_spark`` module that bound an original gets the wrapper.
- Spark's event log, uncompressed and non-rolling. Each operation's id is
  the job description, which Spark also gives the SQL execution, so
  jobs, stages, tasks and plans map back to operations. Stream
  micro-batches run on their query's own thread, whose description names
  the query's run id and batch id instead; the ``StreamingQueryProgress``
  of each batch a feed operation waited for maps those back to it.
- ``StreamingQueryProgress`` of each stream micro-batch.

Every per-layer metric is reported per timed operation (a mean over the
traced operations), except ratios and the ``streaming.*`` metrics, which
are per micro-batch.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import re
import statistics
import sys
import threading
import time
from collections import defaultdict


class NullTracer:
    """Tracing off: every hook is a no-op."""

    def span(self, name: str):
        return contextlib.nullcontext()

    def begin_op(self, op, i: int) -> None:
        pass

    def stream_progress(self, name: str, progs: list) -> None:
        pass

    def count(self, key: str, n: float) -> None:
        pass


NULL_TRACER = NullTracer()

#: the tracer recording spans, or None. Wrappers look it up here rather
#: than closing over it: a Python UDF that calls a wrapped function is
#: pickled with the wrapper, and this module (not the tracer) then goes
#: by reference, so Spark's Python workers import it with tracing off.
_ACTIVE = None


def _recording():
    return _ACTIVE

#: module prefix → layer name used in the metric names
LAYERS = (
    ("tdengine_spark.session", "session"),
    ("tdengine_spark.catalog", "catalog"),
    ("tdengine_spark.dialect", "dialect"),
    ("tdengine_spark.operators", "operators"),
    ("tdengine_spark.functions", "functions"),
    ("tdengine_spark.pipeline", "pipeline"),
    ("tdengine_spark.sources", "sources"),
    ("tdengine_spark.plans", "plans"),
    ("tdengine_spark.streaming.latest", "latest"),
    ("tdengine_spark.streaming", "streaming"),
)

#: per-layer metrics in BENCHMARK.json order, with units
METRICS = {
    "session.get_spark_ms": "ms",
    "catalog.read_calls": "count",
    "catalog.read_ms": "ms",
    "catalog.tag_domain_calls": "count",
    "catalog.tag_domain_hit_ratio": "ratio",
    "dialect.translate_calls": "count",
    "dialect.translate_ms": "ms",
    "operators.build_ms": "ms",
    "functions.build_ms": "ms",
    "build.ms": "ms",
    "build.jobs": "count",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.task_gc_ms": "ms",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.input_rows": "rows",
    "spark.spill_bytes": "B",
    "spark.idle_core_ratio": "ratio",
    "plan.exchanges": "count",
    "plan.sorts": "count",
    "plan.python_nodes": "count",
    "plan.smj": "count",
    "plan.bnlj": "count",
    "arrow.bytes_to_python": "B",
    "arrow.bytes_from_python": "B",
    "arrow.python_ms": "ms",
    "arrow.crossings": "count",
    "pipeline.build_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_rows_updated": "rows",
    "streaming.state_memory_bytes": "B",
    "streaming.state_commit_ms": "ms",
    "streaming.state_update_ms": "ms",
    "sources.parse_ms": "ms",
    "sources.append_ms": "ms",
    "sources.files_written": "count",
    "sources.bytes_written": "B",
    "sources.compact_ms": "ms",
    "sources.bytes_rewritten": "B",
    "plans.create_tsma_ms": "ms",
    "plans.rewrite_hit_ratio": "ratio",
    "plans.rows_read_per_result": "rows",
    "latest.merge_ms": "ms",
    "trace.overhead_pct": "%",
}

_PROGRESS_PHASES = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.get_batch_ms": "getBatch",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}
_STATE_FIELDS = {
    "streaming.state_rows": "numRowsTotal",
    "streaming.state_rows_updated": "numRowsUpdated",
    "streaming.state_memory_bytes": "memoryUsedBytes",
    "streaming.state_commit_ms": "commitTimeMs",
    "streaming.state_update_ms": "allUpdatesTimeMs",
}


def _layer(module: str) -> "str | None":
    for prefix, layer in LAYERS:
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


def _dir_files(path: str) -> "dict[str, int]":
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "op", "children_s")

    def __init__(self, name, layer, start, parent, op):
        self.name, self.layer, self.start = name, layer, start
        self.parent, self.op = parent, op
        self.end = start
        self.children_s = 0.0

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.children_s


class Tracer:
    """Span recorder, event-log reader and stream-progress collector."""

    def __init__(self, work: str):
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.log_dir, exist_ok=True)
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patched: list = []  # (owner, attr, original)
        self.op = None
        self.ops: list = []  # (op id, op name)
        self.counters: dict = defaultdict(float)
        self.progress: list = []
        self.stream_batches: dict = {}  # (run id, batch id) → op id
        self.get_spark_s: list = []
        self.spark = None

    # -- configuration ----------------------------------------------------

    def spark_conf(self) -> dict:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def session_started(self, spark, seconds: float) -> None:
        self.spark = spark
        self.get_spark_s.append(seconds)

    # -- wrappers ---------------------------------------------------------

    def install(self) -> None:
        """Wrap public functions and methods of every program module,
        then rebind every name that still points at an original."""
        import tdengine_spark

        mods = [importlib.import_module(m.name) for m in
                pkgutil.walk_packages(tdengine_spark.__path__, "tdengine_spark.")
                if _layer(m.name) and not m.name.startswith("tdengine_spark.queries")]
        originals = {}
        for mod in mods:
            layer = _layer(mod.__name__)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    w = self._wrap(obj, f"{layer}.{attr}", layer)
                    originals[id(obj)] = w
                    self._set(mod, attr, w)
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            self._set(obj, m, self._wrap(fn, f"{layer}.{attr}.{m}", layer))
        for name, mod in list(sys.modules.items()):
            if not name.startswith("tdengine_spark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and obj is not w:
                    self._set(mod, attr, w)

    def _set(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched = []

    @staticmethod
    def _wrap(fn, name: str, layer: str):
        hook = _HOOKS.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tr = _recording()
            if tr is None:
                return fn(*args, **kwargs)
            pre = hook[0](tr, args, kwargs) if hook else None
            with tr.span(name, layer=layer):
                out = fn(*args, **kwargs)
            if hook:
                hook[1](tr, args, kwargs, out, pre)
            return out

        return wrapper

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "bench"):
        if _ACTIVE is not self:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        s = Span(name, layer, time.time(), parent, self.op)
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            stack.pop()
            if parent is not None:
                parent.children_s += s.end - s.start
            self.spans.append(s)

    # -- per-op hooks -----------------------------------------------------

    def start(self) -> None:
        global _ACTIVE
        _ACTIVE = self

    def stop(self) -> None:
        global _ACTIVE
        _ACTIVE = None
        self.spark.sparkContext.setJobDescription(None)

    def begin_op(self, op, i: int) -> None:
        self.op = f"perfbench:{op.name}:{i}"
        self.ops.append((self.op, op.name))
        self.spark.sparkContext.setJobDescription(self.op)

    def stream_progress(self, name: str, progs: list) -> None:
        if _ACTIVE is self:
            self.progress.extend(progs)
            for p in progs:
                self.stream_batches[(p["runId"], str(p["batchId"]))] = self.op

    def op_of(self, desc: "str | None") -> "str | None":
        """The operation a job or SQL execution with this description ran
        for: the description itself, or the feed operation of a stream
        micro-batch, which is described by its run id and batch id."""
        if desc is None:
            return None
        m = _BATCH_DESC.search(desc)
        if m is None:
            return desc
        return self.stream_batches.get((m.group(1), m.group(2)))

    def count(self, key: str, n: float) -> None:
        if _ACTIVE is self:
            self.counters[key] += n

    # -- reduction ----------------------------------------------------------

    def metrics(self, cores: int, stats, plain_latencies: list) -> dict:
        """Per-layer metrics; call after the session has stopped, so the
        event log is complete."""
        n_ops = max(len(self.ops), 1)
        per_op = defaultdict(float)
        by_name = defaultdict(list)
        for s in self.spans:
            by_name[s.name].append(s)
            if s.layer in ("operators", "functions", "pipeline"):
                per_op[f"{s.layer}.build_ms"] += s.self_s * 1e3

        def total_ms(*names):
            return sum((s.end - s.start) * 1e3 for n in names for s in by_name.get(n, ()))

        def calls(*names):
            return sum(len(by_name.get(n, ())) for n in names)

        out = {k: 0.0 for k in METRICS}
        for k, v in per_op.items():
            out[k] = v / n_ops
        out["session.get_spark_ms"] = statistics.median(self.get_spark_s) * 1e3
        reads = ("catalog.SuperTable.read", "catalog.dedup_keep_last")
        out["catalog.read_calls"] = calls(*reads) / n_ops
        out["catalog.read_ms"] = total_ms(*reads) / n_ops
        td = calls("catalog.tag_domain")
        out["catalog.tag_domain_calls"] = td / n_ops
        out["catalog.tag_domain_hit_ratio"] = self.counters["tag_domain_hits"] / td if td else 0.0
        out["dialect.translate_calls"] = calls("dialect.translate") / n_ops
        out["dialect.translate_ms"] = total_ms("dialect.translate") / n_ops
        out["build.ms"] = total_ms("build") / n_ops
        out["sources.parse_ms"] = total_ms("sources.parse_influx_lines") / n_ops
        out["sources.append_ms"] = total_ms("sources.append_batch") / n_ops
        out["sources.compact_ms"] = total_ms("sources.compact_partition") / n_ops
        out["latest.merge_ms"] = total_ms("latest.LatestTable.merge_batch") / n_ops
        out["plans.create_tsma_ms"] = total_ms("plans.create_tsma") / n_ops
        for k in ("files_written", "bytes_written", "bytes_rewritten"):
            out[f"sources.{k}"] = self.counters[k] / n_ops
        bf = calls("plans.TsmaCatalog.best_for")
        out["plans.rewrite_hit_ratio"] = self.counters["tsma_hits"] / bf if bf else 0.0

        out.update(self._event_log_metrics(cores, by_name, n_ops))
        out.update(self._stream_metrics())
        tr = [s.latency_s for s in stats.samples if s.ok]
        if tr and plain_latencies:
            out["trace.overhead_pct"] = 100.0 * (
                statistics.median(tr) / statistics.median(plain_latencies) - 1.0)
        return {k: {"value": float(out[k]), "unit": u} for k, u in METRICS.items()}

    def _stream_metrics(self) -> dict:
        out = {}
        batches = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        if not batches:
            return out
        for k, phase in _PROGRESS_PHASES.items():
            out[k] = statistics.mean(p.get("durationMs", {}).get(phase, 0) for p in batches)
        for k, f in _STATE_FIELDS.items():
            out[k] = statistics.mean(sum(o.get(f, 0) for o in p.get("stateOperators", []))
                                     for p in batches)
        return out

    def _event_log_metrics(self, cores: int, by_name, n_ops: int) -> dict:
        ev = read_event_log(self.log_dir)
        ops = {op for op, _ in self.ops}
        out = defaultdict(float)
        exec_spans = {s.op: s for s in by_name.get("exec", ())}
        build_spans = {s.op: s for s in by_name.get("build", ())}
        op_spans = {s.op: s for s in by_name.get("op", ())}
        task_run_by_op = defaultdict(float)
        rows_by_op = defaultdict(float)
        for job in ev["jobs"].values():
            op = self.op_of(job["desc"])
            if op not in ops:
                continue
            out["spark.jobs"] += 1
            b = build_spans.get(op)
            if b is not None and b.start * 1e3 <= job["time"] <= b.end * 1e3:
                out["build.jobs"] += 1
            for sid in job["stages"]:
                st = ev["stages"].get(sid)
                if st is None:
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st["tasks"]
                for k in ("task_run_ms", "task_cpu_ms", "task_gc_ms", "shuffle_read_bytes",
                          "shuffle_write_bytes", "input_rows", "spill_bytes"):
                    out[f"spark.{k}"] += st[k]
                task_run_by_op[op] += st["task_run_ms"]
                rows_by_op[op] += st["input_rows"]
        idle = []
        for x in ev["executions"].values():
            op = x["op"] = self.op_of(x["desc"])
            if op not in ops:
                continue
            out["spark.exec_ms"] += x["end"] - x["start"]
            plan = x["plan"]
            counts = plan_counts(plan)
            for k, v in counts.items():
                out[f"plan.{k}"] += v
            for node in _walk(plan):
                moved = 0.0
                for m in node.get("metrics", []):
                    val = ev["accums"].get(m["accumulatorId"], 0.0)
                    if m["metricType"] == "nsTiming":
                        val /= 1e6
                    name = m["name"].lower()
                    if "sent to python" in name:
                        out["arrow.bytes_to_python"] += val
                        moved += val
                    elif "returned from python" in name:
                        out["arrow.bytes_from_python"] += val
                        moved += val
                    elif "time to run python" in name:
                        out["arrow.python_ms"] += val
                # a Python node that moved data either way: one crossing
                # (Spark reports no bytes sent for applyInPandasWithState)
                out["arrow.crossings"] += moved > 0
        plan_ms = []
        for op, s in op_spans.items():
            # an action's planning: from the call that materialises the
            # result (or the operation's start) to its first execution
            t0 = exec_spans.get(op, s).start * 1e3
            starts = [x["start"] for x in ev["executions"].values()
                      if x["op"] == op and x["start"] >= t0]
            if starts:
                plan_ms.append(min(starts) - t0)
            wall = (s.end - s.start) * 1e3
            if wall > 0:
                idle.append(1.0 - task_run_by_op[op] / (wall * cores))
        res = {k: v / n_ops for k, v in out.items()}
        res["spark.plan_ms"] = statistics.mean(plan_ms) if plan_ms else 0.0
        res["spark.idle_core_ratio"] = statistics.mean(idle) if idle else 0.0
        rows_out = self.counters["read_result_rows"]
        if rows_out:
            rows_read = sum(rows_by_op[op] for op, name in self.ops if name == "read")
            res["plans.rows_read_per_result"] = rows_read / rows_out
        return res


# ---------------------------------------------------------------------------
# hooks: (before, after) around specific wrapped calls
# ---------------------------------------------------------------------------


def _tag_domain_pre(tr, args, kwargs):
    from tdengine_spark import catalog

    path = args[1] if len(args) > 1 else kwargs.get("path_or_df")
    cols = args[2] if len(args) > 2 else kwargs.get("cols")
    return isinstance(path, str) and (path, tuple(cols)) in catalog._TAG_DOMAIN_CACHE


def _tag_domain_post(tr, args, kwargs, out, hit):
    tr.counters["tag_domain_hits"] += bool(hit)


def _append_pre(tr, args, kwargs):
    return _dir_files(args[1] if len(args) > 1 else kwargs["path"])


def _append_post(tr, args, kwargs, out, before):
    after = _dir_files(args[1] if len(args) > 1 else kwargs["path"])
    new = [p for p in after if p not in before]
    tr.counters["files_written"] += len(new)
    tr.counters["bytes_written"] += sum(after[p] for p in new)


def _compact_post(tr, args, kwargs, out, pre):
    path, bucket = args[1], args[2]
    tr.counters["bytes_rewritten"] += sum(_dir_files(f"{path}/ts_bucket={bucket}").values())


def _best_for_post(tr, args, kwargs, out, pre):
    tr.counters["tsma_hits"] += out is not None


def _none(tr, args, kwargs):
    return None


_HOOKS = {
    "catalog.tag_domain": (_tag_domain_pre, _tag_domain_post),
    "sources.append_batch": (_append_pre, _append_post),
    "sources.compact_partition": (_none, _compact_post),
    "plans.TsmaCatalog.best_for": (_none, _best_for_post),
}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
#: the job description Spark's stream thread sets for a micro-batch
_BATCH_DESC = re.compile(r"runId = (\S+)\s+batch = (\d+)")


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages, SQL executions and accumulator totals from the
    (single, uncompressed) event log file(s) in ``log_dir``.

    Units, as Spark writes them: run, GC and SQL ``timing`` metrics in ms;
    ``Executor CPU Time`` and SQL ``nsTiming`` metrics in ns (converted
    to ms here); sizes in bytes."""
    jobs, stages, execs, accums = {}, {}, {}, defaultdict(float)
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue  # a partly written last line
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "desc": props.get("spark.job.description"),
                        "time": e.get("Submission Time", 0),
                        "stages": e.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], _new_stage())
                    m = e.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["task_run_ms"] += m.get("Executor Run Time", 0)
                    st["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    st["task_gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                 + sr.get("Local Bytes Read", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        try:
                            accums[a["ID"]] += float(a.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
                elif kind == _SQL + "SparkListenerSQLExecutionStart":
                    execs[e["executionId"]] = {
                        "desc": e.get("description"), "start": e.get("time", 0),
                        "end": e.get("time", 0), "plan": e.get("sparkPlanInfo") or {}}
                elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    x = execs.get(e["executionId"])
                    if x is not None:
                        x["plan"] = e.get("sparkPlanInfo") or x["plan"]
                elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                    x = execs.get(e["executionId"])
                    if x is not None:
                        x["end"] = e.get("time", x["start"])
    return {"jobs": jobs, "stages": stages, "executions": execs, "accums": accums}


def _new_stage() -> dict:
    return dict.fromkeys(("tasks", "task_run_ms", "task_cpu_ms", "task_gc_ms",
                          "shuffle_read_bytes", "shuffle_write_bytes", "input_rows",
                          "spill_bytes"), 0.0)


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


def plan_counts(plan: dict) -> dict:
    """Node counts of one physical plan (the final adaptive plan)."""
    out = dict.fromkeys(("exchanges", "sorts", "python_nodes", "smj", "bnlj"), 0)
    for node in _walk(plan):
        n = node.get("nodeName", "")
        if n in ("Exchange", "BroadcastExchange"):
            out["exchanges"] += 1
        elif n == "Sort":
            out["sorts"] += 1
        elif "Python" in n or "Pandas" in n or "InArrow" in n:
            out["python_nodes"] += 1
        elif n == "SortMergeJoin":
            out["smj"] += 1
        elif n == "BroadcastNestedLoopJoin":
            out["bnlj"] += 1
    return out
