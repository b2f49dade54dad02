"""Tests for the benchmark's own pieces; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
from types import SimpleNamespace

import numpy as np
import pytest

import gen
import host
import run
import spans

HERE = os.path.dirname(os.path.abspath(__file__))

SHAPE = gen.CallShape(files=3, calls_per_file=500, callers=1000, zipf_s=1.3, late_share=0.05)
DIM = gen.DimShape(customers=1000, absent_share=0.10)


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_calls(7, SHAPE, str(tmp_path / "a"))
    b = gen.write_calls(7, SHAPE, str(tmp_path / "b"))
    c = gen.write_calls(8, SHAPE, str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)
    assert gen.customer_table(7, DIM).equals(gen.customer_table(7, DIM))
    assert not gen.customer_table(7, DIM).equals(gen.customer_table(8, DIM))


def test_generator_honours_its_knobs(tmp_path):
    files = list(gen.call_files(3, SHAPE))
    assert len(files) == SHAPE.files
    for i, t in enumerate(files):
        ts = t["ts"].cast("int64").to_numpy()
        hour0 = gen.file_hour_us(i)
        assert t.num_rows == SHAPE.calls_per_file
        assert ts.max() < hour0 + gen.HOUR_US
        assert ts.min() >= hour0 - gen.LATE_HOURS * gen.HOUR_US
        late = (ts < hour0).mean()
        assert 0.01 < late < 0.10
    users = np.concatenate([t["user_id"].to_numpy() for t in files])
    assert users.min() >= 1 and users.max() <= SHAPE.callers
    top = np.bincount(users).max() / len(users)
    assert top > 10 / SHAPE.callers  # skewed, far above a uniform share
    cust = gen.customer_table(3, DIM)
    absent = (cust["c_acctbal"].to_numpy() < 0).mean()
    assert 0.05 < absent < 0.15


def test_landing_files_are_admitted_in_event_time_order(tmp_path):
    paths = gen.write_calls(1, SHAPE, str(tmp_path))
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_p90_needs_a_hundred_samples_for_ten_beyond():
    xs = list(range(1, 101))
    assert spans.percentile(xs, 0.9) == 90
    assert spans.samples_beyond(100, 0.9) == 10
    assert spans.samples_beyond(99, 0.9) < 10
    assert spans.percentile(xs, 0.5) == 50
    assert spans.percentile([5.0], 0.9) == 5.0
    assert spans.median([3, 1, 2, 10]) == 2.5
    with pytest.raises(ValueError):
        spans.percentile([], 0.5)


PROGRESS = [
    {
        "numInputRows": 2000,
        "timestamp": "2026-01-01T00:00:00.000Z",
        "durationMs": {
            "addBatch": 823,
            "commitOffsets": 46,
            "getBatch": 11,
            "latestOffset": 52,
            "queryPlanning": 22,
            "triggerExecution": 1011,
            "walCommit": 51,
        },
        "stateOperators": [
            {
                "numRowsTotal": 9625,
                "numRowsUpdated": 447,
                "allUpdatesTimeMs": 244,
                "numRowsRemoved": 35,
                "allRemovalsTimeMs": 4,
                "commitTimeMs": 434,
                "memoryUsedBytes": 2503120,
                "numRowsDroppedByWatermark": 0,
                "numStateStoreInstances": 4,
            }
        ],
    },
    {
        "numInputRows": 0,
        "timestamp": "2026-01-01T00:00:01.100Z",
        "durationMs": {"latestOffset": 3, "triggerExecution": 120, "addBatch": 100},
        "stateOperators": [
            {
                "numRowsTotal": 9000,
                "numRowsUpdated": 0,
                "numRowsRemoved": 625,
                "allRemovalsTimeMs": 9,
                "commitTimeMs": 20,
                "memoryUsedBytes": 2400000,
                "numRowsDroppedByWatermark": 2,
                "numStateStoreInstances": 4,
            }
        ],
    },
]


def test_fold_progress_into_runner_source_and_state_metrics():
    m = spans.fold_progress(PROGRESS)
    assert set(m) == set(spans.PROGRESS_METRICS)
    assert m["runner.triggers"] == 1  # only the trigger that carried data
    assert m["runner.add_batch_ms"] == 923
    assert m["runner.query_planning_ms"] == 22
    assert m["runner.wal_commit_ms"] == 51
    assert m["runner.commit_offsets_ms"] == 46
    assert m["sources.file_listing_ms"] == 52 + 11 + 3
    assert m["state.commit_ms"] == 454
    assert m["state.update_ms"] == 244
    assert m["state.removal_ms"] == 13
    assert m["state.rows_total"] == 9625
    assert m["state.rows_updated"] == 447
    assert m["state.rows_removed"] == 660
    assert m["state.rows_dropped_late"] == 2
    assert m["state.memory_bytes"] == 2503120
    assert m["state.partitions"] == 4
    assert [p["numInputRows"] for p in spans.data_triggers(PROGRESS)] == [2000]


def _task_end(finish_ms, run_ms, accums):
    return {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {
            "Finish Time": finish_ms,
            "Accumulables": [{"ID": i, "Name": n, "Update": u} for i, (n, u) in enumerate(accums)],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": 2_000_000,
            "JVM GC Time": 3,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Shuffle Read Metrics": {"Fetch Wait Time": 4},
        },
    }


EVENT_LOG = [
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 7,
        "time": 10_500,
        "sparkPlanInfo": {
            "metrics": [],
            "children": [
                {
                    "metrics": [
                        {"name": "time to build", "accumulatorId": 91, "metricType": "timing"},
                        {"name": "data size", "accumulatorId": 92, "metricType": "size"},
                        {"name": "size of files read", "accumulatorId": 93, "metricType": "size"},
                    ],
                    "children": [],
                }
            ],
        },
    },
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
        "executionId": 7,
        "accumUpdates": [[91, 12], [92, 4096], [93, 777]],
    },
    _task_end(
        11_000,
        50,
        [
            ("scan time", 6),
            ("data sent to Python workers", 300),
            ("data returned from Python workers", 200),
            ("time to run Python workers", 40),
        ],
    ),
    _task_end(12_000, 25, [("scan time", 1)]),
    _task_end(99_000, 1000, [("scan time", 1000)]),  # after the window
]


def test_fold_event_log_into_engine_counters():
    lines = [json.dumps(e) + "\n" for e in EVENT_LOG] + ["\n"]
    m = spans.fold_event_log(lines, (10.0, 20.0))
    assert set(m) == set(spans.EVENTLOG_METRICS)
    assert m["operators.executor_run_ms"] == 75
    assert m["operators.executor_cpu_ms"] == 4.0
    assert m["operators.gc_ms"] == 6
    assert m["operators.shuffle_write_bytes"] == 200
    assert m["operators.shuffle_fetch_wait_ms"] == 8
    assert m["operators.spill_bytes"] == 0
    assert m["sources.scan_ms"] == 7
    assert m["sources.bytes_read"] == 777
    assert m["joins.broadcast_build_ms"] == 12
    assert m["joins.broadcast_bytes"] == 4096
    assert m["kafka_io.python_bytes_out"] == 300
    assert m["kafka_io.python_bytes_in"] == 200
    assert m["kafka_io.python_time_ms"] == 40
    # an execution that started outside the window contributes no driver metrics
    assert spans.fold_event_log(lines, (10.6, 20.0))["joins.broadcast_build_ms"] == 0


def test_self_time_subtracts_children_and_nests_batch_bodies_in_triggers():
    raw = [
        {"id": 0, "name": "runner.run_update_query_to_df", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "engine.trigger", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "engine.trigger", "start": 5.0, "end": 8.0, "parent": 0},
        {"id": 3, "name": "joins.enrich", "start": 2.0, "end": 2.5, "parent": 0},
        {"id": 4, "name": "joins.enrich", "start": 6.0, "end": 6.25, "parent": 0},
    ]
    nested = spans.nest_by_time(raw)
    assert [s["parent"] for s in nested] == [None, 0, 0, 1, 2]
    st = spans.self_times(nested)
    assert st["runner"] == pytest.approx(4.0)
    assert st["engine"] == pytest.approx(6.0 - 0.75)
    assert st["joins"] == pytest.approx(0.75)


def test_tracer_off_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.span("bench.op"):
        pass
    assert t.record("engine.trigger", 0.0, 1.0, None) is None
    assert t.spans == []
    on = spans.Tracer(enabled=True)
    with on.span("bench.op"):
        with on.span("runner.call"):
            pass
    assert [(s["name"], s["parent"]) for s in on.spans] == [("bench.op", None), ("runner.call", 0)]


def _declared(kind: str) -> set[str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"] for m in json.load(fh)[kind]}


def test_reported_metric_sets_match_the_declaration():
    stream = SimpleNamespace(stream=True, name="calls_stream_update", steal_filter=True)
    obs = {
        "ops": [1.0, 2.0],
        "op_steal": [0.0, 0.01],
        "trigger_steal": [0.0],
        "failures": [],
        "events": 300,
        "progress": PROGRESS,
        "window": (10.0, 20.0),
    }
    e2e = run.end_to_end(stream, obs, 3.0)
    assert set(e2e) == _declared("end_to_end")
    assert e2e["trigger_p50_ms"] == 1011 and e2e["events_per_s"] == 100.0
    ctx = SimpleNamespace(tracer=spans.Tracer(enabled=True), counters={})
    layers = run.per_layer(
        stream,
        obs,
        ctx,
        (0.1, 1.0),
        {"events_per_s": 120.0, "peak_rss_mb": 512.0},
        [json.dumps(e) for e in EVENT_LOG],
        {},
        {"cpu_probe_ms": 1.0, "fsync_probe_ms": 2.0, "cpu_steal_ratio": 0.1},
    )
    assert set(layers) == _declared("per_layer")
    assert layers["trace.overhead_ratio"] == pytest.approx((120.0 - 100.0) / 120.0)


def test_compaction_waits_for_the_streams_own_termination():
    from workloads import ProgressLog

    log = ProgressLog(spans.Tracer(enabled=False))
    log.onQueryTerminated(None)  # an earlier stream's
    before = log.terminations()
    late = threading.Timer(0.05, log.onQueryTerminated, [None])
    late.start()
    ended = log.wait_terminated(before + 1)
    late.join()
    assert ended == log.terminated_at[1] > log.terminated_at[0]
    with pytest.raises(TimeoutError):
        log.wait_terminated(before + 2, timeout_s=0.05)


def test_steal_ratio_is_the_stolen_share_of_all_cpu_time():
    before = [100, 0, 20, 800, 5, 0, 0, 10, 0, 0]
    after = [160, 0, 30, 900, 5, 0, 0, 40, 0, 0]  # 200 ticks pass, 30 stolen
    assert host.steal_ratio(before, after) == pytest.approx(30 / 200)
    assert host.steal_ratio(before, before) == 0.0
    assert len(host.cpu_ticks()) >= 8


def test_quiet_keeps_undisturbed_samples_or_else_the_least_disturbed():
    assert spans.quiet([5.0, 9.0, 6.0], [0.0, 0.2, 0.01]) == [5.0, 6.0]
    assert spans.quiet([5.0, 9.0, 6.0], [0.05, 0.2, 0.03]) == [6.0]
    assert spans.quiet([], []) == []
    stream = SimpleNamespace(stream=True, steal_filter=True)
    wire = SimpleNamespace(stream=False, steal_filter=False)
    obs = {"ops": [2.0, 8.0, 4.0], "op_steal": [0.0, 0.3, 0.005], "events": 1200, "failures": []}
    # 400 events per operation; the disturbed 8 s operation is left out on the stream only
    assert run.events_per_s(stream, obs) == pytest.approx(800 / 6.0)
    assert run.events_per_s(wire, obs) == pytest.approx(1200 / 14.0)
    assert run.end_to_end(wire, obs, 1.0)["trigger_p50_ms"] == 4000.0
    obs.update(progress=PROGRESS, trigger_steal=[0.5])
    assert run.end_to_end(stream, obs, 1.0)["trigger_p50_ms"] == 1011


def test_steal_sampler_covers_the_interval_asked_for():
    s = host.StealSampler()
    # cpu line: user .. steal (8 fields); 100 ticks pass per second
    s.samples = [
        (0.0, [0, 0, 0, 0, 0, 0, 0, 0]),
        (1.0, [100, 0, 0, 0, 0, 0, 0, 0]),
        (2.0, [150, 0, 0, 0, 0, 0, 0, 50]),
        (3.0, [250, 0, 0, 0, 0, 0, 0, 50]),
    ]
    assert s.steal(1.0, 2.0) == pytest.approx(0.5)
    assert s.steal(1.2, 1.8) == pytest.approx(0.5)  # widened to the samples around it
    assert s.steal(0.5, 2.5) == pytest.approx(50 / 300)
    assert s.steal(2.0, 3.0) == 0.0
    with host.StealSampler() as live:
        threading.Event().wait(0.12)
    assert len(live.samples) >= 3 and not live._thread.is_alive()
