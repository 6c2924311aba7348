"""The benchmark's workloads, driven only through the engine's public API.

Every workload returns a ``Result``: end-to-end metrics, per-layer
metrics (filled when tracing) and the attempted/failed operation counts
of its output checks.  See README.md for what each metric means.
"""

from __future__ import annotations

import glob
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

import data
import probes

HERE = os.path.dirname(os.path.abspath(__file__))
# Transaction pool shared by the runs of one checkout (see data.ensure_pool).
POOL = os.path.join(os.path.dirname(HERE), ".perfbench", "cache",
                    f"pool-{data.POOL_ROWS}.jsonl")

SETUPS = 3          # set-ups per run; setup_s is their median
CPUS = min(3, os.cpu_count() or 1)

# The batch slice (registry names): Python-free, fixed-cost-bound SQL
# (the flagship window aggregate, a 13-stage TPC-H join), a Python-UDF
# iterative query (Arrow passes and a driver loop) and a query with
# tracked persists.
BATCH_SLICE = ["windowed_agg", "tpch_q21_waiting_suppliers", "kmeans_clusters",
               "semdedup"]
BATCH_SF = 0.01
BATCH_PASSES = 5        # measured passes (~4 s each at sf 0.01 on 3 cores)
DOCS, VECS = 500, 500

# Stream: a steady open-loop window, then backlog drains.
STEADY_RATE = 1000      # rows/s offered by the feeder
FEED_INTERVAL = 1.5     # s between released files: longer than a trigger,
                        # so each file is one micro-batch on an idle DAG
LEAD_S = 3.0            # fed before the measured window opens
STEADY_SHARE = 0.6      # of --seconds: the measured steady window; the
                        # drains take about the rest
BACKLOG_ROWS = 30_000   # one drain
BACKLOG_FILES = 12
BACKFILL_FILES_PER_TRIGGER = 3
BACKFILL_DRAINS = 2
ALERT_THRESHOLD = 10_000.0
SINK_QUERIES = ("warehouse", "alerts", "dead_letter", "aggregates")


# Every per-layer metric a traced run prints: name -> (unit, better).
# Layers a workload does not exercise print 0.
_C, _L, _H = "count", "lower", "higher"
PER_LAYER = {
    "session.start_s": ("s", _L), "session.warmup_s": ("s", _L),
    "queries.build_s": ("s", _L), "queries.exec_s": ("s", _L),
    **{f"scheduler.{k}": (_C, _L) for k in ("sql_executions", "jobs", "stages", "tasks")},
    **{f"executor.{k}": ("ms" if k.endswith("_ms") else "bytes", _L)
       for k in probes.EXECUTOR_KEYS},
    "pyworkers.data_sent_bytes": ("bytes", _L),
    "pyworkers.data_received_bytes": ("bytes", _L),
    "pyworkers.rows_received": (_C, _L), "pyworkers.cpu_s": ("s", _L),
    "driver.cpu_s": ("s", _L), "driver.peak_rss_mb": ("MB", _L),
    "jvm.cpu_s": ("s", _L), "jvm.peak_rss_mb": ("MB", _L),
    "cache.tracked_peak": (_C, _L), "cache.cached_bytes_peak": ("bytes", _L),
    "cache.left_after_release": (_C, _L),
    "streaming.sources.lag_s_max": ("s", _L),
    "streaming.sources.files_per_batch": (_C, _L),
    **{f"streaming.pipeline.{q}.{k}": u
       for q in ("warehouse", "alerts", "dead_letter", "aggregates")
       for k, u in (("batches", (_C, _H)), ("rows_in", (_C, _H)),
                    ("trigger_ms_p50", ("ms", _L)), ("latest_offset_ms", ("ms", _L)),
                    ("get_batch_ms", ("ms", _L)), ("query_planning_ms", ("ms", _L)),
                    ("add_batch_ms", ("ms", _L)), ("wal_commit_ms", ("ms", _L)),
                    ("commit_offsets_ms", ("ms", _L)))},
    "streaming.backfill.warehouse.batches": (_C, _L),
    "streaming.backfill.warehouse.trigger_ms_p50": ("ms", _L),
    "streaming.backfill.warehouse.add_batch_ms": ("ms", _L),
    "streaming.sinks.warehouse_write_s": ("s", _L),
    "streaming.sinks.files_published": (_C, _L),
    "streaming.sinks.bytes_written": ("bytes", _L),
    "streaming.sinks.committed_rows_per_s": ("1/s", _H),
    "operators.aggregates.state_rows_total": (_C, _L),
    "operators.aggregates.state_rows_updated": (_C, _L),
    "operators.aggregates.state_memory_bytes": ("bytes", _L),
    "operators.aggregates.state_update_ms": ("ms", _L),
    "operators.aggregates.state_commit_ms": ("ms", _L),
    "operators.aggregates.state_rows_dropped_by_watermark": (_C, _L),
    "generator.late_s_max": ("s", _L), "generator.rows_offered": (_C, _H),
    "reference.local1_rows_per_s": ("1/s", _H),
}


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)     # name -> (value, unit)
    layers: dict = field(default_factory=dict)      # name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)       # -> trace artifact

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# check failed: {what}", file=sys.stderr)


class Run:
    """One benchmark run: its directories, its session and its probes."""

    def __init__(self, run_dir: str, seed: int, seconds: int, trace: bool,
                 workload: str) -> None:
        self.dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = probes.Tracer(f"{workload}-{seed}", trace)
        self.spark = None
        self.progress = None
        self.res = Result()
        self.t0 = time.time()

    def mark(self, what: str) -> None:
        """Progress line on stderr: seconds since the run began."""
        print(f"# t+{time.time() - self.t0:5.1f}s {what}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        """A path under the run directory, its parent created."""
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def mkdir(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # ------------------------------------------------------- session

    def start_session(self, master: str | None = None):
        from real_time_data_pipeline_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.sql.streaming.checkpointLocation": self.path("ckpt-default"),
            # a fixed heap size keeps GC behaviour from varying run to run
            "spark.driver.extraJavaOptions":
                f"-Xms2g -Djava.io.tmpdir={self.path('tmp')}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark("perfbench", master=master or f"local[{CPUS}]",
                          shuffle_partitions=CPUS, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, warm, prepare=None) -> None:
        """Start the session ``SETUPS`` times (the first start launches the
        JVM, later ones restart the session inside it), run ``prepare``
        (input generation, untimed), then warm up once.  ``setup_s`` is
        the median start plus the warm-up."""
        starts = []
        for _ in range(SETUPS):
            t0 = time.time()
            self.stop_session()
            self.start_session()
            starts.append(time.time() - t0)
        self.mark("session started")
        if prepare is not None:
            prepare(self.spark)
            self.mark("inputs generated")
        t0 = time.time()
        warm(self.spark)
        warm_s = time.time() - t0
        self.mark("warmed up")
        start_s = statistics.median(starts)
        self.res.metrics["setup_s"] = (start_s + warm_s, "s")
        self.res.layers["session.start_s"] = (start_s, "s")
        self.res.layers["session.warmup_s"] = (warm_s, "s")
        self.res.notes["session_starts_s"] = starts
        self.proc = probes.ProcCounters(self.spark.sparkContext._gateway.proc.pid)
        if self.trace:
            self.progress = probes.ProgressLog()
            self.spark.streams.addListener(self.progress)

    # ------------------------------------------------------- metrics

    def common_metrics(self, cpu: list[dict]) -> None:
        """cpu_s and peak RSS (end to end) and the driver/JVM/worker CPU
        split (per layer), each per unit of work."""
        med = {k: statistics.median(c[k] for c in cpu) for k in cpu[0]}
        peaks = self.proc.peaks()
        self.res.metrics["cpu_s"] = (med["total"], "s")
        self.res.layers["jvm.peak_rss_mb"] = (peaks["jvm"], "MB")
        self.res.metrics["driver_peak_rss_mb"] = (peaks["driver"], "MB")
        self.res.layers["driver.cpu_s"] = (med["driver"], "s")
        self.res.layers["jvm.cpu_s"] = (med["jvm"], "s")
        self.res.layers["pyworkers.cpu_s"] = (med["workers"], "s")
        self.res.layers["driver.peak_rss_mb"] = (peaks["driver"], "MB")

    def latency_metrics(self, samples: list[float], what: str) -> None:
        """latency_p50_s; the p99 (too unsteady run to run to gate on)
        goes to stderr and the trace."""
        q = statistics.quantiles(samples, n=100, method="inclusive") \
            if len(samples) > 1 else samples * 99
        self.res.metrics["latency_p50_s"] = (statistics.median(samples), "s")
        self.res.notes.update(latency_p99_s=q[98], latency_samples=len(samples))
        print(f"# latency over {len(samples)} {what}: p50 {q[49]:.3f} s, "
              f"p99 {q[98]:.3f} s", file=sys.stderr)

    def fold_layers(self, t0: float, t1: float, units: int) -> dict:
        """Scheduler, executor and Python-worker counters from the event
        log over ``[t0, t1]``, per unit of work."""
        folded = probes.fold_event_log(self.path("eventlog"), t0, t1)
        tot = folded["totals"]
        for k in ("sql_executions", "jobs", "stages", "tasks"):
            self.res.layers[f"scheduler.{k}"] = (tot[k] / units, "count")
        for k in probes.EXECUTOR_KEYS:
            unit = "ms" if k.endswith("_ms") else "bytes"
            self.res.layers[f"executor.{k}"] = (tot[k] / units, unit)
        self.res.layers["pyworkers.data_sent_bytes"] = (tot["py_sent_bytes"] / units, "bytes")
        self.res.layers["pyworkers.data_received_bytes"] = (
            tot["py_received_bytes"] / units, "bytes")
        self.res.layers["pyworkers.rows_received"] = (tot["py_rows"] / units, "count")
        self.res.notes["event_log_groups"] = folded["groups"]
        return folded


def _release(spark) -> None:
    """bench.py's untimed per-query cleanup."""
    from real_time_data_pipeline_spark.operators import cache

    cache.release_all()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ======================================================================
# batch slices


def _oracle_hashes(names: list[str], table_dir: str) -> dict[str, str]:
    """DuckDB ``oracle_sql()`` value hashes over the same parquet files,
    canonicalised the way ``tools/parity.py`` does."""
    import duckdb

    import __spark_entry__ as entrymod
    from real_time_data_pipeline_spark.schemas import TESTDATA_TABLES
    from tools import parity

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_dir}/{t}.parquet')")
    oracles = entrymod.oracle_sql()
    out = {}
    for name in names:
        rel = con.sql(oracles[name])
        cols = [c.lower() for c in rel.columns]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        types = [parity.canon_duck_type(t) for t in rel.types]
        out[name] = parity.value_hash(rel.fetchall(), order, types)
    con.close()
    return out


def _spark_hash(df) -> str:
    from tools import parity

    cols = [f.name.lower() for f in df.schema.fields]
    types = [parity.canon_spark_type(f.dataType.simpleString())
             for f in df.schema.fields]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return parity.value_hash([tuple(r) for r in df.collect()], order, types)


def _cache_state(spark) -> tuple[int, float]:
    """(persistent RDDs, cached bytes in memory + disk)."""
    sc = spark.sparkContext._jsc.sc()
    infos = sc.getRDDStorageInfo()
    return (spark.sparkContext._jsc.getPersistentRDDs().size(),
            float(sum(i.memSize() + i.diskSize() for i in infos)))


def run_batch(run: Run, names: list[str]) -> Result:
    import __spark_entry__ as entrymod
    from real_time_data_pipeline_spark.operators import cache

    res, tr = run.res, run.tracer
    qs = entrymod.queries()
    tables = data.write_tables(data.build_tables(BATCH_SF, DOCS, VECS),
                               run.path("tables"), run.seed)
    expected = _oracle_hashes(names, tables)
    order = list(names)
    random.Random(run.seed).shuffle(order)

    def warm(spark) -> None:
        """The Python worker pool, then one pass over the slice that
        doubles as the output check: each result's value hash against
        the DuckDB oracle's."""
        _force(spark.range(64).repartition(CPUS).mapInPandas(lambda it: it, "id long"))
        for name in order:
            try:
                got = _spark_hash(qs[name](spark, tables))
            except Exception as e:  # noqa: BLE001 — count it, keep going
                got = f"error {type(e).__name__}: {e}"[:300]
            _release(spark)
            res.check(got == expected[name],
                      f"{name} hash {got} != oracle {expected[name]}")

    run.setup(warm)
    spark = run.spark
    walls: dict[str, list[float]] = {n: [] for n in order}
    builds: dict[str, list[float]] = {n: [] for n in order}
    passes, cpu = [], []
    tracked_peak, bytes_peak, left = 0, 0.0, 0
    t_start = time.time()
    with tr.span(f"workload:{'+'.join(order)}", "workload"):
        while len(passes) < BATCH_PASSES:
            c0 = run.proc.cpu()
            wall = 0.0
            for name in order:
                spark.sparkContext.setJobGroup(name, name)
                res.attempted += 1
                try:
                    t0 = time.time()
                    with tr.span(name, "queries.build", query=name):
                        df = qs[name](spark, tables)
                    t1 = time.time()
                    with tr.span(name, "queries.exec", query=name):
                        _force(df)
                    t2 = time.time()
                except Exception as e:  # noqa: BLE001 — count it, keep going
                    res.failed += 1
                    print(f"# {name}: FAILED {type(e).__name__}: {e}"[:300],
                          file=sys.stderr)
                    _release(spark)
                    continue
                walls[name].append(t2 - t0)
                builds[name].append(t1 - t0)
                wall += t2 - t0
                if run.trace:
                    tracked_peak = max(tracked_peak, cache.n_tracked())
                    bytes_peak = max(bytes_peak, _cache_state(spark)[1])
                _release(spark)
                if run.trace:
                    left = max(left, _cache_state(spark)[0])
            spark.sparkContext.setJobGroup("harness", "harness")
            cpu.append(probes.cpu_delta(c0, run.proc.cpu()))
            passes.append(wall)
    t_end = time.time()

    per_query = {n: statistics.median(w) for n, w in walls.items() if w}
    run.latency_metrics(list(per_query.values()), "queries (per-query median wall)")
    res.metrics["throughput_per_s"] = (len(per_query) / sum(per_query.values()), "1/s")
    run.common_metrics(cpu)
    res.notes.update(passes_s=passes, query_wall_s=per_query,
                     query_build_s={n: statistics.median(b) for n, b in builds.items() if b})
    print(f"# {len(passes)} passes: {[round(p, 2) for p in passes]}; per-query "
          f"median wall: { {n: round(w, 2) for n, w in per_query.items()} }",
          file=sys.stderr)
    if run.trace:
        n = len(passes)
        res.layers["queries.build_s"] = (sum(map(sum, builds.values())) / n, "s")
        res.layers["queries.exec_s"] = (
            sum(map(sum, walls.values())) / n - res.layers["queries.build_s"][0], "s")
        res.layers["cache.tracked_peak"] = (tracked_peak, "count")
        res.layers["cache.cached_bytes_peak"] = (bytes_peak, "bytes")
        res.layers["cache.left_after_release"] = (left, "count")
        folded = run.fold_layers(t_start, t_end, n)
        _link_sql_spans(tr, folded)
    return res


def _link_sql_spans(tr: probes.Tracer, folded: dict) -> None:
    """SQL executions under the query span of their job group that
    contains them; stages under their execution (by time)."""
    parents = [s for s in tr.spans if s["layer"] in ("queries.build", "queries.exec",
                                                     "streaming.phase")]

    def parent_of(start: float, group: str | None) -> int | None:
        for s in parents:
            if s["start"] <= start <= s["end"] and group in (s.get("query"), s.get("run_id")):
                return s["id"]
        return None

    ex_spans = []
    for ex in folded["executions"]:
        end = ex["end"] or ex["start"]
        sid = tr.add(f"sql:{ex['id']}", "scheduler.sql", ex["start"], end,
                     parent_of(ex["start"], ex["group"]))
        ex_spans.append((ex, sid))
    for st in folded["stages"]:
        parent = next((sid for ex, sid in ex_spans if ex["group"] == st["group"]
                       and ex["start"] <= st["start"] <= (ex["end"] or ex["start"])),
                      None)
        tr.add(f"stage:{st['id']}", "executor.stage", st["start"], st["end"],
               parent, tasks=st["tasks"])


# ======================================================================
# streams


class _SinkTimer:
    """Wraps ``streaming.sinks.warehouse_write_batch`` (which the partitioned
    sink calls per micro-batch) to record each call's (path, batch, start,
    end): the warehouse publish time of every batch."""

    def __init__(self) -> None:
        from real_time_data_pipeline_spark.streaming import sinks

        self.calls: list[tuple[str, int, float, float]] = []
        self._sinks = sinks
        self._orig = sinks.warehouse_write_batch

        def timed(batch, batch_id, path, *a, **kw):
            t0 = time.time()
            self._orig(batch, batch_id, path, *a, **kw)
            self.calls.append((path, batch_id, t0, time.time()))

        sinks.warehouse_write_batch = timed

    def close(self) -> None:
        self._sinks.warehouse_write_batch = self._orig


def _start_dag(spark, inbox: str, out: str, tag: str,
               max_files: int | None = None) -> dict:
    """The reference four-sink DAG over a JSON-lines inbox."""
    from real_time_data_pipeline_spark.streaming import pipeline, sinks, sources

    dag = pipeline.build_dag(sources.file_json_source(spark, inbox, max_files))
    qs = {name: sinks.partitioned_parquet_sink(
        dag[src], f"{out}/{name}", f"{out}/ckpt/{name}")
        for name, src in (("warehouse", "enriched"), ("alerts", "alerts"),
                          ("dead_letter", "dead_letter"))}
    qs["aggregates"] = (
        dag["aggregates"].writeStream.format("memory")
        .queryName(f"aggregates_{tag}").outputMode("update")
        .option("checkpointLocation", f"{out}/ckpt/aggregates").start())
    return qs


def _drain(qs: dict) -> None:
    for q in qs.values():
        q.processAllAvailable()
    for q in qs.values():
        q.stop()


def _stream_warm(run: Run, lines):
    """Warm-up: the DAG over a backlog of 4000 pre-generated rows in four
    one-file micro-batches, drained and stopped."""
    def warm(spark) -> None:
        inbox = run.mkdir("warm", "inbox")
        for k in range(4):
            with open(os.path.join(inbox, f"w{k}.json"), "w") as f:
                f.write("\n".join(lines()[k * 1000:(k + 1) * 1000]) + "\n")
        _drain(_start_dag(spark, inbox, run.path("warm", "out"), "warm", 1))
    return warm


def _read_outputs(out: str) -> dict:
    """Warehouse, alert and dead-letter rows read back with pyarrow (not
    through the engine) as numpy columns, with each row's micro-batch id
    and creation time (``metadata.created_ms``, NaN for backlog rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    got = {}
    for name in ("warehouse", "alerts", "dead_letter"):
        files = glob.glob(f"{out}/{name}/*/*/*/b*.parquet")
        parts = []
        for f in files:
            t = pq.read_table(f, columns=["transaction_id", "amount", "is_valid",
                                          "metadata"])
            batch = int(re.match(r"b(\d+)-", os.path.basename(f)).group(1))
            parts.append(t.append_column("batch", pa.array(np.full(t.num_rows, batch))))
        t = pa.concat_tables(parts) if parts else None
        created = (pc.map_lookup(t["metadata"], pa.scalar("created_ms"), "first")
                   .cast(pa.float64()).to_numpy(zero_copy_only=False) / 1000
                   if t else np.zeros(0))
        got[name] = {
            "rows": t.num_rows if t else 0,
            "distinct": pc.count_distinct(t["transaction_id"]).as_py() if t else 0,
            "amount": t["amount"].to_numpy() if t else np.zeros(0),
            "valid": t["is_valid"].to_numpy(zero_copy_only=False) if t
            else np.zeros(0, bool),
            "created": created,
            "batch": t["batch"].to_numpy() if t else np.zeros(0, int),
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
    return got


def _check_outputs(res: Result, got: dict, offered: int) -> None:
    wh, dl, al = got["warehouse"], got["dead_letter"], got["alerts"]
    res.check(wh["rows"] == offered, f"warehouse rows {wh['rows']} != offered {offered}")
    res.check(wh["distinct"] == wh["rows"],
              f"duplicate transaction_id: {wh['rows'] - wh['distinct']}")
    invalid = int((~wh["valid"]).sum())
    alerts = int((wh["valid"] & (wh["amount"] > ALERT_THRESHOLD)).sum())
    res.check(invalid > 0 and alerts > 0, "no dead-letter or alert rows generated")
    res.check(not dl["valid"].any() and dl["rows"] == invalid,
              f"dead_letter rows {dl['rows']} vs invalid {invalid}")
    res.check(bool((al["valid"] & (al["amount"] > ALERT_THRESHOLD)).all())
              and al["rows"] == alerts, f"alerts rows {al['rows']} vs expected {alerts}")


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _files_per_batch(ckpt: str) -> list[int]:
    """Files each micro-batch took, from the file source's commit log."""
    out = []
    for f in glob.glob(f"{ckpt}/sources/0/*"):
        if os.path.basename(f).isdigit():
            with open(f) as fh:
                out.append(sum(1 for line in fh if line.startswith("{")))
    return out


def _events_in(events: list[dict], qid_name: dict, t0: float, t1: float) -> dict:
    """Progress events of each sink query whose trigger started in [t0, t1]."""
    per = {n: [] for n in SINK_QUERIES}
    for ev in events:
        name = qid_name.get(ev["id"])
        if name and t0 <= _iso(ev["timestamp"]) <= t1:
            per[name].append(ev)
    return per


_PHASES = (("latest_offset_ms", "latestOffset"), ("get_batch_ms", "getBatch"),
           ("query_planning_ms", "queryPlanning"), ("add_batch_ms", "addBatch"),
           ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"))
# order in which a micro-batch runs its phases (for laying out spans)
_PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets")


def _stream_layers(run: Run, per: dict, calls: list, got: dict, ckpt_root: str) -> None:
    """Per-layer figures of the steady window: per sink query, batch and
    row counts and the per-batch median of each trigger phase; the
    aggregate's state store; the sinks and the source."""
    L = run.res.layers
    for name in SINK_QUERIES:
        evs = per[name]
        pre = f"streaming.pipeline.{name}"
        L[f"{pre}.batches"] = (len(evs), "count")
        L[f"{pre}.rows_in"] = (sum(e["rows"] for e in evs), "count")
        trig = [e["durations"].get("triggerExecution", 0) for e in evs]
        L[f"{pre}.trigger_ms_p50"] = (statistics.median(trig) if trig else 0.0, "ms")
        for key, phase in _PHASES:
            vals = [e["durations"].get(phase, 0) for e in evs]
            L[f"{pre}.{key}"] = (statistics.median(vals) if vals else 0.0, "ms")
    states = [s for e in per["aggregates"] for s in e["state"][:1]]
    A = "operators.aggregates"
    L[f"{A}.state_rows_total"] = (states[-1]["rows_total"] if states else 0, "count")
    L[f"{A}.state_memory_bytes"] = (max((s["memory_bytes"] for s in states), default=0), "bytes")
    for key, src, unit in (("state_rows_updated", "rows_updated", "count"),
                           ("state_update_ms", "update_ms", "ms"),
                           ("state_commit_ms", "commit_ms", "ms"),
                           ("state_rows_dropped_by_watermark", "dropped", "count")):
        L[f"{A}.{key}"] = (sum(s[src] for s in states), unit)
    L["streaming.sinks.warehouse_write_s"] = (sum(e - s for _, _, s, e in calls), "s")
    sinks = ("warehouse", "alerts", "dead_letter")
    L["streaming.sinks.files_published"] = (sum(got[n]["files"] for n in sinks), "count")
    L["streaming.sinks.bytes_written"] = (sum(got[n]["bytes"] for n in sinks), "bytes")
    fpb = _files_per_batch(f"{ckpt_root}/warehouse")
    L["streaming.sources.files_per_batch"] = (
        statistics.mean(fpb) if fpb else 0.0, "count")


def _stream_spans(run: Run, per: dict, calls: list, parent_of_query: dict) -> None:
    """Trigger and phase spans from progress events; warehouse_write_batch
    calls under the addBatch phase of their (query, batch)."""
    tr = run.tracer
    add_batch = {}
    for name, evs in per.items():
        for ev in evs:
            start = _iso(ev["timestamp"])
            d = ev["durations"]
            tid = tr.add(f"{name}:batch{ev['batch']}", "streaming.trigger", start,
                         start + d.get("triggerExecution", 0) / 1000,
                         parent_of_query[name], query=name, run_id=ev["run_id"])
            t = start
            for phase in _PHASE_ORDER:
                dur = d.get(phase, 0) / 1000
                pid = tr.add(phase, "streaming.phase", t, t + dur, tid,
                             query=name, run_id=ev["run_id"])
                if phase == "addBatch":
                    add_batch[(name, ev["batch"])] = pid
                t += dur
    for path, batch, s, e in calls:
        name = os.path.basename(path)
        tr.add("warehouse_write_batch", "streaming.sinks", s, e,
               add_batch.get((name, batch)), query=name)


def _steady_phase(run: Run, staging: str, n_rows: int, timer: _SinkTimer) -> dict:
    """Phase 1: the feeder releases the staged files on its schedule; the
    measured window is the ``steady_s`` after a ``LEAD_S`` lead-in."""
    res, spark = run.res, run.spark
    inbox, out = run.mkdir("inbox"), run.path("steady")
    manifest = run.path("feeder.json")
    with run.tracer.span("phase:steady", "workload"):
        qs = _start_dag(spark, inbox, out, "steady")
        start = time.time() + 1.0
        w0, w1 = start + LEAD_S, start + LEAD_S + run.steady_s
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feeder.py"), staging, inbox,
             str(start), str(FEED_INTERVAL), manifest])
        try:
            time.sleep(max(0.0, w0 - time.time()))
            c0 = run.proc.cpu()
            time.sleep(max(0.0, w1 - time.time()))
            c1 = run.proc.cpu()
            feeder.wait(timeout=60)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        _drain(qs)
    run.mark("steady window closed, inbox drained")
    with open(manifest) as f:
        released = json.load(f)
    got = _read_outputs(out)
    _check_outputs(res, got, n_rows)
    publish = {b: e for p, b, _, e in timer.calls if p.endswith("/warehouse")}
    wh = got["warehouse"]
    win = (wh["created"] >= w0) & (wh["created"] < w1)
    lat = [publish[b] - c for b, c in zip(wh["batch"][win], wh["created"][win])]
    # committed rate: rows per second between the first and last
    # warehouse batch published inside the window
    in_win = sorted((e, b) for b, e in publish.items() if w0 <= e <= w1)
    per_batch = dict(zip(*np.unique(wh["batch"], return_counts=True)))
    rate = (sum(per_batch.get(b, 0) for _, b in in_win[1:])
            / (in_win[-1][0] - in_win[0][0])) if len(in_win) >= 2 else 0.0
    late = max(r["released"] - r["due"] for r in released)
    print(f"# steady {run.steady_s:.0f}s window: {len(in_win)} warehouse batches, offered "
          f"{STEADY_RATE}/s, committed {rate:.0f}/s, feeder late {late:.3f}s",
          file=sys.stderr)
    return {"w0": w0, "w1": w1, "cpu": probes.cpu_delta(c0, c1), "lat": lat,
            "rate": rate, "late": late, "released": released, "got": got,
            "out": out, "ids": {str(q.id): n for n, q in qs.items()}}


def _backfill_phase(run: Run, inbox: str, timer: _SinkTimer) -> dict:
    """Phase 2: drain the backlog ``BACKFILL_DRAINS`` times, with fresh
    checkpoints each time."""
    drains, cpu, ids, last = [], [], {}, None
    t_start = time.time()
    with run.tracer.span("phase:backfill", "workload"):
        while len(drains) < BACKFILL_DRAINS:
            k = len(drains)
            out = run.path("backfill", f"d{k}")
            c0 = run.proc.cpu()
            t0 = time.time()
            qs = _start_dag(run.spark, inbox, out, f"d{k}", BACKFILL_FILES_PER_TRIGGER)
            _drain(qs)
            t1 = time.time()
            cpu.append(probes.cpu_delta(c0, run.proc.cpu()))
            drains.append(t1 - t0)
            ids.update({str(q.id): f"backfill.{n}" for n, q in qs.items()})
            run.mark(f"drain {k} took {t1 - t0:.2f}s")
            last = _read_outputs(out)
            _check_outputs(run.res, last, BACKLOG_ROWS)
            if not run.trace:
                shutil.rmtree(out, ignore_errors=True)
    print(f"# {len(drains)} drains of {BACKLOG_ROWS} rows: "
          f"{[round(d, 2) for d in drains]}", file=sys.stderr)
    return {"drains": drains, "cpu": cpu, "ids": ids, "got": last, "out": out,
            "t0": t_start, "t1": time.time()}


def run_stream(run: Run) -> Result:
    res = run.res
    run.steady_s = round(run.seconds * STEADY_SHARE)
    n_files = int((LEAD_S + run.steady_s) / FEED_INTERVAL)
    per_file = int(STEADY_RATE * FEED_INTERVAL)
    n_steady = n_files * per_file
    staging, backlog = run.mkdir("staging"), run.mkdir("backlog")
    lines: list[str] = []

    def prepare(spark) -> None:
        lines.extend(data.transaction_lines(data.ensure_pool(spark, POOL),
                                            n_steady + BACKLOG_ROWS, run.seed))
        for k in range(n_files):
            with open(os.path.join(staging, f"f{k:06d}.json"), "w") as f:
                f.write("\n".join(lines[k * per_file:(k + 1) * per_file]) + "\n")
        per = BACKLOG_ROWS // BACKLOG_FILES
        for k in range(BACKLOG_FILES):
            with open(os.path.join(backlog, f"part-{k:05d}.json"), "w") as f:
                f.write("\n".join(lines[n_steady + k * per:n_steady + (k + 1) * per])
                        + "\n")

    run.setup(_stream_warm(run, lambda: lines), prepare)
    del lines[:]
    timer = _SinkTimer()
    try:
        with run.tracer.span("workload:stream_pipeline", "workload") as wid:
            st = _steady_phase(run, staging, n_steady, timer)
            bf = _backfill_phase(run, backlog, timer)
    finally:
        timer.close()

    run.latency_metrics(st["lat"], "rows (due time to warehouse publish)")
    res.metrics["throughput_per_s"] = (BACKLOG_ROWS / statistics.median(bf["drains"]), "1/s")
    mid = sorted(bf["cpu"], key=lambda c: c["total"])[len(bf["cpu"]) // 2]
    run.common_metrics([{k: st["cpu"][k] + mid[k] for k in mid}])
    res.notes.update(window=[st["w0"], st["w1"]], committed_rows_per_s=st["rate"],
                     offered_rows_per_s=STEADY_RATE, drains_s=bf["drains"],
                     backlog_rows=BACKLOG_ROWS)
    if run.trace:
        _stream_trace(run, st, bf, timer, wid, backlog)
    return res


def _stream_trace(run: Run, st: dict, bf: dict, timer: _SinkTimer, wid: int,
                  backlog: str) -> None:
    L = run.res.layers
    time.sleep(0.5)  # let the listener bus deliver the last progress events
    events = run.progress.events
    per = _events_in(events, st["ids"], st["w0"], st["w1"])
    calls = [c for c in timer.calls if st["w0"] <= c[2] <= st["w1"]]
    _stream_layers(run, per, calls, st["got"], f"{st['out']}/ckpt")
    L["generator.late_s_max"] = (st["late"], "s")
    L["generator.rows_offered"] = (
        sum(r["rows"] for r in st["released"] if st["w0"] <= r["due"] < st["w1"]), "count")
    L["streaming.sinks.committed_rows_per_s"] = (st["rate"], "1/s")
    # source lag: trigger start minus release time of each file it took
    trig = {e["batch"]: _iso(e["timestamp"]) for e in events
            if st["ids"].get(e["id"]) == "warehouse"}
    rel = {r["file"]: r["released"] for r in st["released"]}
    lags = []
    for f in glob.glob(f"{st['out']}/ckpt/warehouse/sources/0/*"):
        b = os.path.basename(f)
        if b.isdigit() and int(b) in trig:
            with open(f) as fh:
                for line in fh:
                    if line.startswith("{"):
                        name = os.path.basename(json.loads(line)["path"])
                        if st["w0"] <= rel.get(name, 0) < st["w1"]:
                            lags.append(trig[int(b)] - rel[name])
    L["streaming.sources.lag_s_max"] = (max(lags, default=0.0), "s")
    # the backfill phase: per-batch cost of the warehouse query
    bf_ev = [e for e in events if bf["ids"].get(e["id"]) == "backfill.warehouse"]
    for key, phase in (("trigger_ms_p50", "triggerExecution"),
                       ("add_batch_ms", "addBatch")):
        vals = [e["durations"].get(phase, 0) for e in bf_ev]
        L[f"streaming.backfill.warehouse.{key}"] = (
            statistics.median(vals) if vals else 0.0, "ms")
    L["streaming.backfill.warehouse.batches"] = (len(bf_ev) / len(bf["drains"]), "count")
    # spans: sink query -> trigger -> phase -> warehouse_write_batch
    tr = run.tracer
    parent = {n: tr.add(f"query:{n}", "streaming.query", st["w0"], st["w1"], wid)
              for n in SINK_QUERIES}
    _stream_spans(run, per, calls, parent)
    folded = run.fold_layers(st["w0"], bf["t1"], 1)
    _link_sql_spans(tr, folded)
    L["reference.local1_rows_per_s"] = (_local1_reference(run, backlog), "1/s")


def _local1_reference(run: Run, backlog: str) -> float:
    """Single-threaded baseline: a quarter of the backlog drained on
    ``local[1]`` (reported in the trace, never gated)."""
    run.stop_session()
    spark = run.start_session(master="local[1]")
    sub = run.mkdir("backlog1")
    rows = 0
    for f in sorted(glob.glob(backlog + "/part-*"))[: BACKLOG_FILES // 4]:
        shutil.copy(f, sub)
        with open(f) as fh:
            rows += sum(1 for _ in fh)
    t0 = time.time()
    _drain(_start_dag(spark, sub, run.path("local1"), "local1", 1))
    return rows / (time.time() - t0)


WORKLOADS = {
    "stream_pipeline": run_stream,
    "batch_registry": lambda run: run_batch(run, BATCH_SLICE),
}

