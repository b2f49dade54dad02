"""Spans, percentiles and the folding of engine records into layer metrics.

Nothing here imports Spark: the inputs are the JSON a
``StreamingQueryListener`` hands over per trigger and the JSON lines of a
Spark event log, so the folding is testable on canned records.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import defaultdict
from datetime import datetime

# --------------------------------------------------------------------------
# percentiles
# --------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a ``q``
    share of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(1, math.ceil(q * len(xs))) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q`` percentile."""
    return n - max(1, math.ceil(q * n))


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


# A sample counts as undisturbed when the hypervisor gave at most this share
# of the VM's CPU time to other guests during it. On a shared host steal comes
# in bursts, and each 1% of it slowed the stream's triggers by about 3%.
QUIET_STEAL = 0.01


def quiet(values: list, steals: list[float]) -> list:
    """The ``values`` whose interval lost at most ``QUIET_STEAL`` of the CPU
    to steal (``steals`` runs parallel to them); if none did, the one that
    lost least."""
    if not values:
        return []
    kept = [v for v, s in zip(values, steals) if s <= QUIET_STEAL]
    return kept or [values[min(range(len(values)), key=steals.__getitem__)]]


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent id.

    ``enabled=False`` makes ``span`` a plain pass-through, so the timed runs
    pay nothing for it. Trigger spans arrive from the listener's callback
    thread, hence the lock."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    def _add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
            return sid

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def span(self, name: str):
        return _Span(self, name)

    def record(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int | None:
        """Add a finished span (used for triggers, whose times the engine
        reports after the fact)."""
        if not self.enabled:
            return None
        return self._add(name, start, end, parent, **attrs)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.sid: int | None = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.sid = t._add(self.name, time.time(), math.nan, t.current())
            t._stack.append(self.sid)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            with t._lock:
                t.spans[self.sid]["end"] = time.time()
        return False


# span layers, the part of a span name before its first dot
LAYERS = (
    "bench",
    "sources",
    "windowed_agg",
    "runner",
    "engine",
    "joins",
    "kafka_io",
    "oracle",
)


def nest_by_time(spans: list[dict]) -> list[dict]:
    """Re-parent each span under the shortest sibling that contains it in
    time. Trigger spans are recorded after the fact, under the runner call,
    so a ``foreachBatch`` body (also under the runner call) moves under the
    trigger it ran in."""
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s["parent"]].append(s)
    out = []
    for s in spans:
        best = None
        for c in by_parent[s["parent"]]:
            if c is s or not (c["start"] <= s["start"] and s["end"] <= c["end"]):
                continue
            if c["end"] - c["start"] <= s["end"] - s["start"]:
                continue
            if best is None or c["end"] - c["start"] < best["end"] - best["start"]:
                best = c
        out.append({**s, "parent": best["id"]} if best is not None else s)
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the part
    of it its children cover, summed by layer (the span name up to its
    first dot)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cursor = 0.0, lo
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            a, b = max(c["start"], cursor), min(c["end"], hi)
            if b > a:
                covered += b - a
                cursor = b
        out[s["name"].split(".", 1)[0]] += max(0.0, (hi - lo) - covered)
    return dict(out)


# --------------------------------------------------------------------------
# streaming progress (one JSON object per trigger)
# --------------------------------------------------------------------------

PROGRESS_METRICS = (
    "runner.triggers",
    "runner.query_planning_ms",
    "runner.add_batch_ms",
    "runner.wal_commit_ms",
    "runner.commit_offsets_ms",
    "sources.file_listing_ms",
    "state.commit_ms",
    "state.update_ms",
    "state.removal_ms",
    "state.rows_total",
    "state.rows_updated",
    "state.rows_removed",
    "state.rows_dropped_late",
    "state.memory_bytes",
    "state.partitions",
)


def data_triggers(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def trigger_interval(p: dict) -> tuple[float, float]:
    """Epoch seconds at which a trigger's progress says it started and ended."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def fold_progress(progress: list[dict]) -> dict[str, float]:
    """Fold per-trigger progress into the runner, sources and state-store
    metrics. Durations and row flows are summed over every trigger (a no-data
    trigger that evicts windows still does state work); ``rows_total``,
    ``memory_bytes`` and ``partitions`` are the largest seen."""
    out = dict.fromkeys(PROGRESS_METRICS, 0.0)
    out["runner.triggers"] = float(len(data_triggers(progress)))
    for p in progress:
        d = p.get("durationMs", {})
        out["runner.query_planning_ms"] += d.get("queryPlanning", 0)
        out["runner.add_batch_ms"] += d.get("addBatch", 0)
        out["runner.wal_commit_ms"] += d.get("walCommit", 0)
        out["runner.commit_offsets_ms"] += d.get("commitOffsets", 0)
        out["sources.file_listing_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        for op in p.get("stateOperators", []):
            out["state.commit_ms"] += op.get("commitTimeMs", 0)
            out["state.update_ms"] += op.get("allUpdatesTimeMs", 0)
            out["state.removal_ms"] += op.get("allRemovalsTimeMs", 0)
            out["state.rows_updated"] += op.get("numRowsUpdated", 0)
            out["state.rows_removed"] += op.get("numRowsRemoved", 0)
            out["state.rows_dropped_late"] += op.get("numRowsDroppedByWatermark", 0)
            out["state.rows_total"] = max(out["state.rows_total"], op.get("numRowsTotal", 0))
            out["state.memory_bytes"] = max(out["state.memory_bytes"], op.get("memoryUsedBytes", 0))
            out["state.partitions"] = max(
                out["state.partitions"], op.get("numStateStoreInstances", 0)
            )
    return out


# --------------------------------------------------------------------------
# Spark event log (JSON lines)
# --------------------------------------------------------------------------

EVENTLOG_METRICS = (
    "operators.executor_run_ms",
    "operators.executor_cpu_ms",
    "operators.gc_ms",
    "operators.shuffle_write_bytes",
    "operators.shuffle_fetch_wait_ms",
    "operators.spill_bytes",
    "sources.bytes_read",
    "sources.scan_ms",
    "joins.broadcast_build_ms",
    "joins.broadcast_bytes",
    "kafka_io.python_bytes_out",
    "kafka_io.python_bytes_in",
    "kafka_io.python_time_ms",
)

# SQL metric name (as the engine labels it) -> layer metric, for task-side
# accumulators and for the driver-side ones of broadcast exchanges.
_TASK_ACCUMS = {
    "scan time": "sources.scan_ms",
    "data sent to Python workers": "kafka_io.python_bytes_out",
    "data returned from Python workers": "kafka_io.python_bytes_in",
    "time to run Python workers": "kafka_io.python_time_ms",
}
# Driver-side SQL metrics. Bytes read come from the scan's "size of files
# read": the task input metrics undercount local parquet reads.
_DRIVER_ACCUMS = {
    "size of files read": "sources.bytes_read",
    "time to build": "joins.broadcast_build_ms",
    "data size": "joins.broadcast_bytes",
}


def _plan_accum_names(plan: dict, names: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_accum_names(child, names)


def fold_event_log(lines, window: tuple[float, float]) -> dict[str, float]:
    """Sum engine-side counters over the tasks that finished inside
    ``window`` (epoch seconds) and the SQL executions that started inside
    it. ``lines`` are raw event-log lines."""
    lo_ms, hi_ms = window[0] * 1000.0, window[1] * 1000.0
    out = dict.fromkeys(EVENTLOG_METRICS, 0.0)
    accum_names: dict[int, str] = {}
    exec_in_window: set[int] = set()
    driver_updates: list[tuple[int, list]] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            if lo_ms <= ev.get("time", 0) <= hi_ms:
                exec_in_window.add(ev["executionId"])
            _plan_accum_names(ev.get("sparkPlanInfo", {}), accum_names)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_accum_names(ev.get("sparkPlanInfo", {}), accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            driver_updates.append((ev["executionId"], ev.get("accumUpdates", [])))
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            if not lo_ms <= info.get("Finish Time", 0) <= hi_ms:
                continue
            tm = ev.get("Task Metrics") or {}
            out["operators.executor_run_ms"] += tm.get("Executor Run Time", 0)
            out["operators.executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            out["operators.gc_ms"] += tm.get("JVM GC Time", 0)
            out["operators.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            out["operators.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            out["operators.shuffle_fetch_wait_ms"] += tm.get("Shuffle Read Metrics", {}).get(
                "Fetch Wait Time", 0
            )
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                try:
                    upd = float(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                if name in _TASK_ACCUMS:
                    out[_TASK_ACCUMS[name]] += upd
    for exec_id, updates in driver_updates:
        if exec_id not in exec_in_window:
            continue
        for acc_id, value in updates:
            name = accum_names.get(acc_id)
            if name in _DRIVER_ACCUMS:
                out[_DRIVER_ACCUMS[name]] += float(value)
    return out


def read_event_logs(log_dir: str) -> list[str]:
    lines: list[str] = []
    if not os.path.isdir(log_dir):
        return lines
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            lines.extend(fh)
    return lines
