"""Measurement from outside the engine.

* ``ProcCounters`` — CPU seconds and peak RSS of the driver (this Python
  process), the JVM and the Python worker processes under the JVM, read
  from ``/proc``.
* ``ProgressLog`` — a ``StreamingQueryListener`` keeping every progress
  event (per-phase durations, state-store figures) in memory.
* ``fold_event_log`` — folds Spark's JSON event log into scheduler,
  executor and Python-worker counters, plus SQL-execution and stage spans.
* ``Tracer`` — spans (name, layer, start, end, parent, trace id) kept in
  memory and written once when the run ends; ``self_times`` gives each
  layer's self time.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float]:
    """(ppid, own cpu s, reaped-children cpu s) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _TICK
    kids = (int(fields[13]) + int(fields[14])) / _TICK
    return ppid, own, kids


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _all_stats() -> dict[int, tuple[int, float, float]]:
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stats[int(d)] = _stat(int(d))
            except (OSError, IndexError, ValueError):
                pass  # exited while listing
    return stats


def descendants(pid: int, stats: dict | None = None) -> list[int]:
    stats = stats or _all_stats()
    children = defaultdict(list)
    for p, (ppid, _, _) in stats.items():
        children[ppid].append(p)
    out, todo = [], list(children[pid])
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children[p])
    return out


class ProcCounters:
    """CPU of the driver, the JVM and the JVM's descendant (Python worker)
    processes.  A worker that exits is reaped by its parent, whose
    reaped-children time then carries it, so sums stay monotonic."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def cpu(self) -> dict[str, float]:
        stats = _all_stats()
        workers = sum(stats[p][1] + stats[p][2]
                      for p in descendants(self.jvm_pid, stats))
        driver = stats[os.getpid()][1]
        jvm = sum(stats.get(self.jvm_pid, (0, 0.0, 0.0))[1:])
        return {"driver": driver, "jvm": jvm, "workers": workers,
                "total": driver + jvm + workers}

    def peaks(self) -> dict[str, float]:
        return {"driver": peak_rss_mb(os.getpid()),
                "jvm": peak_rss_mb(self.jvm_pid)}


def cpu_delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in a}


class ProgressLog(StreamingQueryListener):
    """Every ``StreamingQueryProgress`` as a plain dict, in memory."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        states = [{
            "rows_total": s.numRowsTotal, "rows_updated": s.numRowsUpdated,
            "memory_bytes": s.memoryUsedBytes,
            "update_ms": s.allUpdatesTimeMs, "commit_ms": s.commitTimeMs,
            "dropped": s.numRowsDroppedByWatermark,
        } for s in p.stateOperators]
        self.events.append({
            "id": str(p.id), "run_id": str(p.runId), "batch": p.batchId,
            "timestamp": p.timestamp, "rows": p.numInputRows,
            "durations": dict(p.durationMs or {}), "state": states,
        })

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass


# ------------------------------------------------------------ event log

_SENT = "data sent to Python workers"
_RECEIVED = "data returned from Python workers"
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _python_acc_ids(plan: dict, ids: dict[str, set]) -> None:
    """Accumulator ids of the Python-exec nodes' sent/received/rows metrics."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _SENT in metrics:
        ids["sent"].add(metrics[_SENT])
        ids["received"].add(metrics.get(_RECEIVED, -1))
        ids["rows"].add(metrics.get("number of output rows", -1))
    for child in plan.get("children", []):
        _python_acc_ids(child, ids)


EXECUTOR_KEYS = ("run_ms", "cpu_ms", "gc_ms", "result_bytes",
                 "shuffle_write_bytes", "shuffle_read_bytes",
                 "shuffle_fetch_wait_ms", "spill_bytes", "input_bytes",
                 "output_bytes")


def _task_metrics(m: dict) -> dict[str, float]:
    sr = m.get("Shuffle Read Metrics", {})
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "result_bytes": m.get("Result Size", 0),
        "shuffle_write_bytes":
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes":
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
    }


def fold_event_log(log_dir: str, t0: float, t1: float) -> dict:
    """Fold the event log over the wall window ``[t0, t1]`` (epoch s).

    Returns ``{"totals": {...}, "groups": {job group: {...}},
    "executions": [...], "stages": [...]}``; job groups are the registry
    query names or streaming run ids the harness set."""
    lo, hi = t0 * 1000, t1 * 1000
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    py_ids: dict[str, set] = {"sent": set(), "received": set(), "rows": set()}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    executions: dict[int, dict] = {}
    stages: list[dict] = []

    def bucket():
        return dict.fromkeys(
            ("sql_executions", "jobs", "stages", "tasks", *EXECUTOR_KEYS,
             "py_sent_bytes", "py_received_bytes", "py_rows"), 0)

    groups: dict[str, dict] = defaultdict(bucket)
    totals = bucket()

    def add(group: str | None, key: str, value: float) -> None:
        totals[key] += value
        groups[group or "-"][key] += value

    for ev in events:
        kind = ev["Event"]
        if kind in (_SQL_START, _SQL_AQE):
            _python_acc_ids(ev.get("sparkPlanInfo", {}), py_ids)
            if kind == _SQL_START and lo <= ev["time"] <= hi:
                executions[ev["executionId"]] = {"id": ev["executionId"],
                                                 "start": ev["time"] / 1000,
                                                 "end": None}
        elif kind == _SQL_END and ev["executionId"] in executions:
            executions[ev["executionId"]]["end"] = ev["time"] / 1000
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties", {})
            group = props.get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), group)
            if lo <= ev["Submission Time"] <= hi:
                add(group, "jobs", 1)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if lo <= info.get("Completion Time", 0) <= hi:
                group = stage_group.get(info["Stage ID"])
                add(group, "stages", 1)
                stages.append({"id": info["Stage ID"], "group": group,
                               "start": info.get("Submission Time", 0) / 1000,
                               "end": info["Completion Time"] / 1000,
                               "tasks": info.get("Number of Tasks", 0)})
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not lo <= info.get("Finish Time", 0) <= hi:
                continue
            group = stage_group.get(ev["Stage ID"])
            add(group, "tasks", 1)
            for k, v in _task_metrics(ev.get("Task Metrics") or {}).items():
                add(group, k, v)
            for acc in info.get("Accumulables", []):
                for key, ids in (("py_sent_bytes", py_ids["sent"]),
                                 ("py_received_bytes", py_ids["received"]),
                                 ("py_rows", py_ids["rows"])):
                    if acc.get("ID") in ids:
                        add(group, key, float(acc.get("Update", 0)))
    for eid, ex in executions.items():
        ex["group"] = exec_group.get(eid)
        add(ex["group"], "sql_executions", 1)
    return {"totals": totals, "groups": dict(groups),
            "executions": list(executions.values()), "stages": stages}


# --------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes ``span`` a no-op."""

    def __init__(self, trace_id: str, enabled: bool) -> None:
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        sid = next(self._ids)
        if self.enabled:
            self.spans.append({"id": sid, "parent": parent, "trace": self.trace_id,
                               "name": name, "layer": layer, "start": start,
                               "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Time a block as a child of the innermost open span; yields the
        new span's id."""
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            self._stack.pop()
            if self.enabled:
                self.spans.append({"id": sid, "parent": parent,
                                   "trace": self.trace_id, "name": name,
                                   "layer": layer, "start": start,
                                   "end": time.time(), **attrs})

    def self_times(self) -> dict[str, float]:
        """Per layer: sum over its spans of duration minus the part of the
        span's interval that its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"trace": self.trace_id, "self_s": self.self_times(),
                       "spans": self.spans, **extra}, f, default=str)
