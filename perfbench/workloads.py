"""The workloads. Each builds its inputs from the seed, registers them
with a Spark session, exposes an operation mix, and checks results
against a computation that does not go through the program under test
(DuckDB SQL, or numpy/pandas over the generated inputs).

- ``query``: the read path with warm caches. Time-series registry
  queries and a dialect statement over a seeded ``events`` table, and the
  similarity and text pipeline queries over seeded documents,
  interleaved. The stream and ingest layers idle.
- ``ingest``: the write path with cold caches. Line-protocol batches are
  parsed, appended and merged into the last-row table, with reads,
  compaction and TSMA rebuilds in the mix; four stream triggers are each
  fed one staged file per operation. The query builders idle.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import duckdb
import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.harness import Measured, Op
from perfbench.trace import NULL_TRACER


# ---------------------------------------------------------------------------
# result comparison
# ---------------------------------------------------------------------------


def normalize(df: pd.DataFrame, cols: "list[str]") -> pd.DataFrame:
    """Canonical, order-insensitive form: columns by name; numbers and
    booleans as float64, rounded to 4 places after the +1e-7 shift the
    registry oracles use (and -0.0 as 0.0); timestamps as microseconds
    since the epoch; everything else as text; rows sorted."""
    out = {}
    for c in sorted(cols):
        s = df[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            t = pd.to_datetime(s)
            if t.dt.tz is not None:
                t = t.dt.tz_convert(None)
            us = t.values.astype("datetime64[us]").astype("int64").astype("float64")
            us[t.isna().values] = np.nan
            out[c] = us
        elif pd.api.types.is_numeric_dtype(s) or pd.api.types.is_bool_dtype(s):
            out[c] = (s.astype("float64") + 1e-7).round(4) + 0.0
        else:
            out[c] = s.astype(object).where(s.notna(), None).map(str)
    return pd.DataFrame(out).sort_values(sorted(cols), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame,
            cols: "list[str] | None" = None) -> "str | None":
    """None when ``got`` and ``want`` hold the same rows on ``cols``
    (default: all of ``want``'s columns)."""
    cols = cols or list(want.columns)
    missing = set(cols) - set(got.columns)
    if missing:
        return f"missing columns {sorted(missing)}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    a, b = normalize(got, cols), normalize(want, cols)
    diff = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
    if diff.any():
        i = int(diff.idxmax())
        return (f"{int(diff.sum())} rows differ, first {a.loc[i].to_dict()} "
                f"expected {b.loc[i].to_dict()}")
    return None


def _bytes_under(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def duck_views(data: str, tables: "tuple[str, ...]"):
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


#: oracle spec of ``minhash_near_dup_pairs``: the exact Jaccard join
JACCARD = "jaccard"


def expected_results(data: str, tables: "tuple[str, ...]", specs: dict) -> dict:
    """Expected result of each operation, by name. A spec is DuckDB SQL
    over the generated tables, or ``JACCARD``. Runs in a child process,
    so the driver never holds DuckDB's memory."""
    con = duck_views(data, tables)
    con.execute("SET threads = 1")
    try:
        out = {}
        for name, spec in specs.items():
            if spec == JACCARD:
                docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
                out[name] = jaccard_pairs(dict(docs))
            else:
                out[name] = con.execute(spec).fetchdf()
        return out
    finally:
        con.close()


class Workload:
    name = ""
    tables: tuple = ()

    def __init__(self, work: str, seed: int, tiny: bool = False):
        self.work, self.seed, self.tiny = work, seed, tiny
        self.sizes = gen.TINY if tiny else gen.Sizes()
        self.data = os.path.join(work, "data")
        self.tracer = NULL_TRACER
        self.rows: dict = {}

    def generate(self) -> None:
        self.rows = gen.write_tables(self.data, self.seed, self.sizes, self.tables)

    def setup(self, spark) -> "list[Op]":
        raise NotImplementedError

    def check_pass(self, ops: "list[Op]", results: dict, expected: dict) -> dict:
        """Errors by operation name: each checked operation's warm-up
        result against its expected result."""
        errors = {}
        for op in ops:
            if op.check is None:
                continue
            out, err = results.get(op.name, (None, "no result"))
            err = err or op.check(out, expected.get(op.name))
            if err:
                errors[op.name] = err
        return errors

    def check_final(self) -> dict:
        """Errors by operation name in the state left after the timed
        loop, for workloads whose state changes with every operation."""
        return {}

    def stored_bytes_per_row(self) -> float:
        return (sum(_bytes_under(f"{self.data}/{t}.parquet") for t in self.tables)
                / sum(self.rows.values()))

    def close(self) -> None:
        """Stop whatever the workload started; safe to call twice."""

    # -- helpers ----------------------------------------------------------

    def query_op(self, name: str, build, rows: int, expect: str, check=None) -> Op:
        """An operation that builds a DataFrame and materialises it: to a
        noop sink when timed, collected to pandas on the checked pass.
        ``expect`` is its oracle spec (see ``expected_results``); ``check``
        defaults to comparing every column of the expected result."""
        tr = self.tracer

        def run(first: bool):
            with tr.span("build"):
                df = build()
            with tr.span("exec"):
                if first:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
                return None

        return Op(name, run, check or compare, rows, expect=expect)


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------

#: registry queries: interval+FILL, SESSION, interp, ASOF JOIN, and the
#: diff/csum/mavg function family
TSQ_REGISTRY = (
    "interval_fill_prev",
    "session_windows_30m",
    "interp_linear_daily",
    "asof_join_purchase_click",
    "diff_csum_mavg",
)

#: a dialect statement of a window construct the registry subset leaves
#: out, checked against the DuckDB SQL of the registry query named beside
#: it
TSQ_DIALECT = (
    ("sql_event_window",
     "SELECT user_id, _wstart, _wend, count(*) AS n_rows FROM events "
     "PARTITION BY user_id EVENT_WINDOW START WITH value > 180 END WITH value < 20",
     "event_windows_spike", ["user_id", "_wstart", "_wend", "n_rows"]),
)

SIM_QUERIES = (
    ("minhash_near_dup_pairs", "documents"),
    ("language_id", "documents"),
)


def jaccard_pairs(texts: "dict[int, str]", threshold: float = 0.5) -> pd.DataFrame:
    """All document pairs whose word-3-shingle Jaccard, rounded to 4
    places, is at least ``threshold`` - the same answer as the registry's
    brute-force SQL oracle, found with prefix filtering instead of
    comparing all n^2 pairs: two sets with Jaccard >= t share a token
    among the first |A| - ceil(t |A|) + 1 tokens of each, in any fixed
    global token order."""
    sets = {}
    for doc, text in texts.items():
        tk = " ".join(text.lower().split()).split(" ")
        sets[doc] = (frozenset(" ".join(tk[i:i + 3]) for i in range(len(tk) - 2))
                     if len(tk) >= 3 else frozenset([" ".join(tk)]))
    freq: dict = {}
    for sh in sets.values():
        for x in sh:
            freq[x] = freq.get(x, 0) + 1
    index: dict = {}
    cand = set()
    for doc, sh in sets.items():
        toks = sorted(sh, key=lambda x: (freq[x], x))
        for x in toks[:len(toks) - math.ceil(threshold * len(toks)) + 1]:
            for other in index.get(x, ()):
                cand.add((min(doc, other), max(doc, other)))
            index.setdefault(x, []).append(doc)
    rows = []
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        j = round(inter / max(len(sets[a]) + len(sets[b]) - inter, 1), 4)
        if j >= threshold:
            rows.append((a, b, j))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"])


class Query(Workload):
    name = "query"
    tables = ("events", "documents")

    def setup(self, spark):
        import tdengine_spark.queries_extra  # noqa: F401  (registers)
        import tdengine_spark.queries_pipeline  # noqa: F401  (registers)
        from tdengine_spark.catalog import Database
        from tdengine_spark.dialect import translate
        from tdengine_spark.queries import REGISTRY, t

        for tbl in self.tables:
            t(spark, self.data, tbl)
        db = Database(root=self.data)
        ts_ops = []
        n_ev = self.rows["events"]
        for name in TSQ_REGISTRY:
            fn = REGISTRY[name].spark_fn
            ts_ops.append(self.query_op(
                name, lambda fn=fn: fn(spark, self.data), n_ev,
                REGISTRY[name].oracle))
        for name, sql, oracle, cols in TSQ_DIALECT:
            ts_ops.append(self.query_op(
                name, lambda sql=sql: translate(spark, db, sql), n_ev,
                REGISTRY[oracle].oracle,
                lambda got, want, cols=cols: compare(got, want, cols)))
        sim_ops = []
        for name, tbl in SIM_QUERIES:
            q = REGISTRY[name]
            expect = JACCARD if name == "minhash_near_dup_pairs" else q.oracle
            sim_ops.append(self.query_op(
                name, lambda fn=q.spark_fn: fn(spark, self.data), self.rows[tbl],
                expect))
        # interleaved, so any prefix of a pass holds both kinds
        ops = [o for pair in zip(ts_ops, sim_ops) for o in pair]
        n = min(len(ts_ops), len(sim_ops))
        return ops + ts_ops[n:] + sim_ops[n:]


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

#: per trigger: DuckDB SQL over the fed files (view ``fed``) giving every
#: window that must have been emitted once the watermark reached ``wm``
_STREAM_CHECKS = {
    "interval_1h": """
        SELECT make_timestamp(CAST(floor(epoch_us(ts) / 3600000000) * 3600000000 AS BIGINT)) AS _wstart,
               event_type, COUNT(*) AS cnt, SUM(value) AS sv
        FROM fed GROUP BY 1, 2
        HAVING epoch_us(_wstart) + 3600000000 <= {wm}
    """,
    "session_30m": """
        WITH f AS (
          SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1 ELSE 0 END AS s
          FROM fed WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), g AS (
          SELECT *, SUM(s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM f
        )
        SELECT user_id, min(ts) AS _wstart, max(ts) + INTERVAL 30 MINUTE AS _wend,
               COUNT(*) AS cnt
        FROM g GROUP BY user_id, sid
        HAVING epoch_us(max(ts)) + 1800000000 <= {wm}
    """,
    "count_window_100": """
        WITH n AS (
          SELECT event_type, ts, value, (row_number() OVER (PARTITION BY event_type
                 ORDER BY ts) - 1) // 100 AS w
          FROM fed
        )
        SELECT event_type AS k, min(ts) AS _wstart, max(ts) AS _wend,
               COUNT(*) AS n_rows, SUM(value) AS sum_value
        FROM n GROUP BY event_type, w HAVING COUNT(*) = 100
    """,
    "state_window": """
        WITH f AS (
          SELECT user_id, ts, event_type, value,
                 CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS c
          FROM fed WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), r AS (
          SELECT *, SUM(c) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS rid,
                 MAX(ts) OVER (PARTITION BY user_id) AS last_ts
          FROM f
        )
        SELECT CAST(user_id AS VARCHAR) AS k, event_type AS state, min(ts) AS _wstart,
               max(ts) AS _wend, COUNT(*) AS n_rows, SUM(value) AS sum_value
        FROM r GROUP BY user_id, rid, event_type HAVING max(last_ts) > max(ts)
    """,
}

_STREAM_COLS = {
    "interval_1h": ["_wstart", "event_type", "cnt", "sv"],
    "session_30m": ["user_id", "_wstart", "_wend", "cnt"],
    "count_window_100": ["k", "_wstart", "_wend", "n_rows", "sum_value"],
    "state_window": ["k", "state", "_wstart", "_wend", "n_rows", "sum_value"],
}


class StreamTriggers:
    """The four stream triggers. Each runs as one long-lived query over
    its own directory, into a memory sink (its output is a few hundred
    window rows). Feeding a trigger copies its next staged file into that
    directory and waits until the query has processed it; the latency is
    the summed ``triggerExecution`` of the micro-batches that ran."""

    FILE_ROWS = 2_000

    def __init__(self, work: str, events: str, tiny: bool, tracer):
        import pyarrow.parquet as pq

        self.work, self.tracer = work, tracer
        ev = pq.read_table(events)
        self.rows = ev.num_rows
        self.file_rows = 200 if tiny else self.FILE_ROWS
        stage = os.path.join(work, "staged")
        os.makedirs(stage)
        self.staged = []
        for i in range(math.ceil(ev.num_rows / self.file_rows)):
            p = os.path.join(stage, f"part-{i:05d}.parquet")
            pq.write_table(ev.slice(i * self.file_rows, self.file_rows), p)
            self.staged.append(p)
        self.queries: dict = {}
        self.round = 0

    @staticmethod
    def builders() -> dict:
        from pyspark.sql import functions as F

        from tdengine_spark.streaming import stream as st

        return {
            "interval_1h": lambda src: st.interval_trigger(
                src, "ts", "1h", partition_by=["event_type"], watermark="1 hour",
                aggs=[F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv")]),
            "session_30m": lambda src: st.session_trigger(
                src, "ts", "30m", ["user_id"], "1 hour",
                [F.count(F.lit(1)).alias("cnt")]),
            "count_window_100": lambda src: st.count_window_trigger(
                src, "ts", 100, "event_type", "value"),
            "state_window": lambda src: st.state_window_trigger(
                src, "ts", "event_type", "user_id", "value"),
        }

    def start(self, spark) -> None:
        """Start every trigger from a fresh checkpoint."""
        from tdengine_spark.streaming.stream import read_stream

        self.stop()
        self.round += 1
        self.spark = spark
        schema = spark.read.parquet(self.staged[0]).schema
        for name, build in self.builders().items():
            base = os.path.join(self.work, f"q{self.round}_{name}")
            src_dir = os.path.join(base, "in")
            os.makedirs(src_dir)
            src = read_stream(spark, src_dir, schema, max_files_per_trigger=1)
            q = (build(src).writeStream.outputMode("append")
                 .format("memory").queryName(f"out_{name}")
                 .option("checkpointLocation", os.path.join(base, "ckpt")).start())
            self.queries[name] = {"query": q, "dir": src_dir, "next": 0, "seen": -1}

    def stop(self) -> None:
        for s in self.queries.values():
            if s["query"].isActive:
                s["query"].stop()

    def feed(self, name: str) -> Measured:
        import time as _t

        s = self.queries[name]
        i = s["next"]
        if i >= len(self.staged):
            raise RuntimeError(f"{name}: staged backlog exhausted after {i} files")
        shutil.copy(self.staged[i], s["dir"])
        s["next"] = i + 1
        q = s["query"]
        t0 = _t.perf_counter()
        q.processAllAvailable()
        wall = _t.perf_counter() - t0
        progs = [json.loads(p.json) for p in (q.recentProgress or [])
                 if p.batchId > s["seen"]]
        if progs:
            s["seen"] = max(p["batchId"] for p in progs)
        self.tracer.stream_progress(name, progs)
        trig = sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in progs)
        return Measured(trig / 1e3 if trig else wall)

    def check(self, duck) -> dict:
        """Each trigger's whole output so far against DuckDB over the files
        it was fed, up to the watermark of its last micro-batch."""
        errors = {}
        stage = os.path.dirname(self.staged[0])
        for name, s in self.queries.items():
            q = s["query"]
            q.stop()  # no batch may run between reading watermark and sink
            last = json.loads(q.recentProgress[-1].json) if q.recentProgress else {}
            wm = (last.get("eventTime") or {}).get("watermark")
            wm_us = int(pd.Timestamp(wm).value // 1000) if wm else 0
            got = self.spark.table(f"out_{name}").toPandas()
            lst = ", ".join(f"'{stage}/{f}'" for f in sorted(os.listdir(s["dir"])))
            duck.execute(f"CREATE OR REPLACE VIEW fed AS SELECT * FROM read_parquet([{lst}])")
            want = duck.execute(_STREAM_CHECKS[name].format(wm=wm_us)).fetchdf()
            err = compare(got, want, _STREAM_COLS[name])
            if err:
                errors[name] = err
        return errors


BUCKET_US = 3_600_000_000
#: live time partitions kept; older ones are dropped (the KEEP analog)
KEEP_BUCKETS = 3

class LineTable:
    """A line-protocol-fed super table with a last-row table and a TSMA.

    Batches step 15 minutes, so a one-hour ``ts_bucket`` fills every four
    batches; the oldest buckets beyond ``KEEP_BUCKETS`` are dropped. The
    expected table is kept in pandas."""

    STEP_US = 900_000_000

    def __init__(self, work: str, seed: int, tiny: bool, tracer):
        self.tracer = tracer
        self.lines = gen.LineBatches(seed, series=50 if tiny else 1_000,
                                     step_us=self.STEP_US)
        root = os.path.join(work, "ingest")
        self.path = os.path.join(root, "table")
        self.latest_path = os.path.join(root, "latest")
        self.tsma_path = os.path.join(root, "tsma")
        self.truth = pd.DataFrame({"tbname": pd.Series(dtype=object),
                                   "ts": pd.Series(dtype=np.int64),
                                   "value": pd.Series(dtype=float),
                                   "version": pd.Series(dtype=np.int64)})
        self.version = 0
        self.bytes_per_row: list = []

    def register(self, spark) -> None:
        from tdengine_spark.plans.tsma import TsmaCatalog
        from tdengine_spark.streaming.latest import LatestTable

        self.spark = spark
        self.latest = LatestTable(self.latest_path, ["tbname"])
        self.catalog = TsmaCatalog()
        if os.path.exists(self.tsma_path):
            self._rebuild_tsma()

    def _batch_df(self, lines: "list[str]"):
        from pyspark.sql import functions as F

        from tdengine_spark.sources.schemaless import parse_influx_lines

        raw = self.spark.createDataFrame([(x,) for x in lines], "value string")
        p = parse_influx_lines(raw)
        return p.select(F.col("tags")["host"].alias("tbname"),
                        F.col("tags")["region"].alias("region"), "ts",
                        F.col("fields")["usage"].cast("double").alias("value"))

    def ingest(self) -> Measured:
        import time as _t

        from tdengine_spark.sources.ingest import append_batch

        lines, cols = self.lines.next()
        t0 = _t.perf_counter()
        batch = self._batch_df(lines).cache()
        append_batch(batch, self.path, duration="1h", version=self.version)
        self.latest.merge_batch(batch, self.version)
        batch.unpersist()
        for b in self._buckets()[:-KEEP_BUCKETS]:
            shutil.rmtree(os.path.join(self.path, f"ts_bucket={b}"))
        dt = _t.perf_counter() - t0
        self.truth = pd.concat([self.truth, pd.DataFrame({
            "tbname": [f"h{s}" for s in cols["tbname"]], "ts": cols["ts"],
            "value": cols["value"], "version": self.version})], ignore_index=True)
        self.version += 1
        lo = pd.Timestamp(self._buckets()[0], tz="UTC").value // 1000
        self.truth = self.truth[self.truth["ts"] >= lo]
        self.bytes_per_row.append(_bytes_under(self.path) / max(len(self.expected()), 1))
        return Measured(dt)

    def _buckets(self) -> "list[str]":
        if not os.path.isdir(self.path):
            return []
        return sorted(d.split("=", 1)[1] for d in os.listdir(self.path)
                      if d.startswith("ts_bucket="))

    def read(self):
        """Keep-last read of the fresh table plus a TSMA-rewritten interval
        aggregate."""
        from tdengine_spark.sources.ingest import read_table

        fresh = read_table(self.spark, self.path)
        out = fresh.groupBy("region").count().collect()
        agg = self.catalog.interval_agg(
            self.spark, fresh, "1h", ["region"], {"value": ["avg", "count", "max"]}
        ).collect()
        self.tracer.count("read_result_rows", len(out) + len(agg))

    def maintain(self) -> None:
        """Compact the newest complete bucket and rebuild the TSMA."""
        from tdengine_spark.sources.ingest import compact_partition

        buckets = self._buckets()
        if len(buckets) >= 2:
            compact_partition(self.spark, self.path, buckets[-2])
        self._rebuild_tsma()

    def _rebuild_tsma(self) -> None:
        from tdengine_spark.plans.tsma import TsmaCatalog, create_tsma
        from tdengine_spark.sources.ingest import read_table

        spec = create_tsma(self.spark, read_table(self.spark, self.path),
                           self.tsma_path, "15m", keys=["region"], metrics=["value"])
        self.catalog = TsmaCatalog()
        self.catalog.register(spec)

    def expected(self) -> pd.DataFrame:
        t = self.truth.sort_values("version", kind="stable")
        t = t.drop_duplicates(["tbname", "ts"], keep="last").copy()
        t["region"] = "r" + (t["tbname"].str[1:].astype(int) % 4).astype(str)
        t["ts"] = pd.to_datetime(t["ts"], unit="us")
        return t[["tbname", "region", "ts", "value"]]

    def check(self) -> dict:
        """Keep-last read, last-row table and TSMA aggregate against the
        expected table."""
        from tdengine_spark.sources.ingest import read_table

        want = self.expected()
        cols = ["tbname", "region", "ts", "value"]
        errs = []
        err = compare(read_table(self.spark, self.path).toPandas(), want, cols)
        if err:
            errs.append(f"keep-last read: {err}")
        last = want.sort_values("ts").groupby("tbname").tail(1)
        err = compare(self.latest.read(self.spark).toPandas(), last, cols)
        if err:
            errs.append(f"last-row table: {err}")
        self._rebuild_tsma()
        agg = self.catalog.interval_agg(
            self.spark, read_table(self.spark, self.path), "1h", ["region"],
            {"value": ["avg", "count", "max"]}).toPandas()
        w = want.assign(_wstart=want["ts"].dt.floor("1h")).groupby(
            ["_wstart", "region"])["value"].agg(["mean", "count", "max"]).reset_index()
        w.columns = ["_wstart", "region", "avg_value", "count_value", "max_value"]
        err = compare(agg, w)
        if err:
            errs.append(f"TSMA interval_agg: {err}")
        return {"ingest": "; ".join(errs)} if errs else {}


class Ingest(Workload):
    """The write path: line-protocol ingest, reads of the fresh table,
    maintenance, and the four stream triggers, interleaved."""

    name = "ingest"
    tables = ("events",)
    #: four reads a pass, so a run's read latency is a median of eight or
    #: more
    MIX = ("interval_1h", "ingest", "read", "session_30m", "read",
           "count_window_100", "ingest", "read", "state_window", "read", "maintain")

    def generate(self) -> None:
        super().generate()
        self.streams = StreamTriggers(self.work, f"{self.data}/events.parquet",
                                      self.tiny, self.tracer)
        self.table = LineTable(self.work, self.seed, self.tiny, self.tracer)

    def setup(self, spark):
        self.streams.start(spark)
        self.table.register(spark)
        t = self.table
        run = {"ingest": t.ingest, "read": t.read, "maintain": t.maintain}
        ops = []
        for name in self.MIX:
            if name in run:
                kind = "read" if name == "read" else "write"
                rows = t.lines.series if name == "ingest" else 0
                ops.append(Op(name, lambda _first, f=run[name]: f(), None, rows, kind))
            else:
                ops.append(Op(name, lambda _first, n=name: self.streams.feed(n),
                              None, self.streams.file_rows, "batch"))
        return ops

    def check_final(self) -> dict:
        con = duck_views(self.data, self.tables)
        try:
            return {**self.streams.check(con), **self.table.check()}
        finally:
            con.close()

    def stored_bytes_per_row(self) -> float:
        """Parquet bytes of the line table per live row, the median over
        the ingest operations (duplicates before compaction included)."""
        b = self.table.bytes_per_row
        return float(np.median(b)) if b else float("nan")

    def close(self) -> None:
        if hasattr(self, "streams"):
            self.streams.stop()


WORKLOADS = {w.name: w for w in (Query, Ingest)}
