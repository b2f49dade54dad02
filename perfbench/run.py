"""Rosetta calls benchmark.

    python3 perfbench/run.py --workload calls_stream_update --seed 1 --seconds 15 --trace 0

Run from the repository root. One run generates the workload's inputs from
``--seed``, computes the oracle's answer in DuckDB, sets up a Spark session
(``get_spark`` on ``local[nproc / 2]``, which launches the JVM, plus a
warm-up operation on a small input of the same shape), runs two full-size
warm-up operations so the JIT is warm, and then repeats verified operations
for ``--seconds`` in a closed loop: each operation starts when the previous
one has finished.

The last line of standard output is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones:

- ``setup_s``: the set-up: JVM launch, cold JIT and the first stream (or
  wire round trip) in a fresh process.
- ``events_per_s``: input calls (wire records) per second of operation wall
  time, from the first public call to the verified result.
- ``trigger_p50_ms``: nearest-rank median of ``triggerExecution`` over the
  data-carrying triggers on the stream; of the operation latency on the
  wire workload.
- ``success_ratio``: operations that completed and matched the oracle, over
  those attempted (one minus the error rate).

On the stream, ``events_per_s`` and ``trigger_p50_ms`` take only the
operations (triggers) during which the host's CPU steal stayed at most
``spans.QUIET_STEAL``, or the least disturbed one (``Workload.steal_filter``).

With ``--trace 1`` the run measures the same window untraced and then again
in a fresh session with the event log on, spans recorded and the listener
building one span per trigger, and reports the per-layer metrics (plus, for
``calls_stream_update``, one ``local[1]`` operation as a single-threaded
baseline). Spans are written to ``.perfbench/out/``. The line before the
result carries the host-canary readings and sample counts.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import sys
import time
import traceback

PACKAGE = "kafka_streams_rosetta_demo_spark"
# Full-size warm-up operations between the set-up and the window. The JIT
# keeps speeding triggers up for a few dozen of them, so a window that starts
# right after the set-up measures the warm-up curve, not the program.
WARM_OPS = 2
OP_TIMEOUT_S = 60
BASELINE_WORKLOAD = "calls_stream_update"


class OpTimeout(Exception):
    pass


def _alarm(signum, frame):
    raise OpTimeout(f"operation exceeded {OP_TIMEOUT_S} s")


def parse_args(argv):
    import argparse

    ap = argparse.ArgumentParser(description="Rosetta calls benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    """Spark's task slots: half the cores this process may run on, as
    ``nproc`` counts them. The other half keeps the driver's own threads, the
    Python process, the JIT and GC off the tasks' cores; on a shared host
    whose CPUs are stolen in bursts, local[nproc] gave the stream fewer
    events/s (4% and 35% in two interleaved pairs)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def spark_env(work: str) -> None:
    """Settings that must be in place before the package is imported: the
    task slots, a bounded heap, temporary files inside the checkout."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp


def spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


class Session:
    """Owns the Spark session, its progress listener and the JVM behind
    them for one run."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.progress = None

    def start(self, master: str, tracer, event_log: str | None = None) -> float:
        """(Re)start the session; return the seconds ``get_spark`` took. The
        first start in a process includes launching the JVM."""
        from kafka_streams_rosetta_demo_spark.session import get_spark
        from workloads import ProgressLog

        self.stop()
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=master, extra_conf=spark_conf(self.work, event_log)
        )
        took = time.perf_counter() - t
        self.progress = ProgressLog(tracer)
        self.spark.streams.addListener(self.progress)
        return took

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()  # also flushes and closes the event log
            self.spark = None

    def jvm_pid(self) -> int:
        """The launcher the gateway starts execs into the JVM, so the
        process it spawned is the JVM."""
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on end of input
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def warm_up(workload, ctx, data) -> float:
    """One unmeasured operation; returns its seconds. For a stream it also
    waits until the listener has seen every trigger, so none of them lands
    in the window that follows."""
    t = time.perf_counter()
    before = ctx.progress.data_count()
    workload.op(ctx, data)
    if workload.stream:
        ctx.progress.wait_for(before + data.triggers)
    return time.perf_counter() - t


def measure(workload, ctx, data, seconds: float) -> dict:
    """Closed loop of operations, at least one, until ``seconds`` pass. The
    host's steal is sampled throughout, and each operation and data trigger
    gets the steal share of its own interval."""
    from host import StealSampler
    from spans import data_triggers, trigger_interval

    ops, op_spans, failures, events = [], [], [], 0
    ctx.progress.take()
    t_start = time.time()
    deadline = time.monotonic() + seconds
    with StealSampler() as sampler:
        while True:
            before = ctx.progress.data_count()
            t, t_epoch = time.perf_counter(), time.time()
            signal.alarm(OP_TIMEOUT_S)
            try:
                with ctx.tracer.span("bench.op"):
                    n = workload.op(ctx, data)
                if workload.stream:
                    ctx.progress.wait_for(before + data.triggers)
                ops.append(time.perf_counter() - t)
                op_spans.append((t_epoch, time.time()))
                events += n
            except Exception as exc:  # a failed operation is counted, the loop goes on
                failures.append(f"{type(exc).__name__}: {exc}")
                traceback.print_exc()
                for q in ctx.spark.streams.active:
                    q.stop()
            finally:
                signal.alarm(0)
            if time.monotonic() >= deadline:
                break
    progress = ctx.progress.take()
    return {
        "ops": ops,
        "op_steal": [sampler.steal(*s) for s in op_spans],
        "trigger_steal": [sampler.steal(*trigger_interval(p)) for p in data_triggers(progress)],
        "failures": failures,
        "events": events,
        "window": (t_start, time.time()),
        "progress": progress,
    }


def timed(workload, values: list, steals: list[float]) -> list:
    """The samples a timed metric is taken over."""
    from spans import quiet

    return quiet(values, steals) if workload.steal_filter else values


def events_per_s(workload, obs: dict) -> float:
    """Events per second of the timed operations; every operation completes
    the same events."""
    if not obs["ops"]:
        return 0.0
    kept = timed(workload, obs["ops"], obs["op_steal"])
    return obs["events"] / len(obs["ops"]) * len(kept) / sum(kept)


def latencies_ms(workload, obs: dict) -> tuple[list[float], list[float]]:
    """The latency samples and the steal share of each one's interval: the
    data triggers' ``triggerExecution`` on a stream, the operations' wall
    time otherwise."""
    from spans import data_triggers

    if workload.stream:
        lat = [p["durationMs"]["triggerExecution"] for p in data_triggers(obs["progress"])]
        return lat, obs["trigger_steal"]
    return [s * 1000.0 for s in obs["ops"]], obs["op_steal"]


def end_to_end(workload, obs: dict, setup_s: float) -> dict:
    from spans import percentile

    lat = timed(workload, *latencies_ms(workload, obs))
    attempted = len(obs["ops"]) + len(obs["failures"])
    return {
        "setup_s": setup_s,
        "events_per_s": events_per_s(workload, obs),
        "trigger_p50_ms": percentile(lat, 0.5) if lat else 0.0,
        "success_ratio": len(obs["ops"]) / attempted,
    }


def per_layer(workload, obs, ctx, setup, untraced, event_lines, baseline, canary) -> dict:
    """``setup`` holds the set-up's ``get_spark`` and warm-up seconds;
    ``untraced`` the untraced window's events/s and the JVM's peak RSS
    after it."""
    import spans

    m = {
        "session.get_spark_s": setup[0],
        "session.warmup_s": setup[1],
        "session.peak_rss_mb": untraced["peak_rss_mb"],
    }
    m.update(spans.fold_progress(obs["progress"]))
    lat = latencies_ms(workload, obs)[0] if workload.stream else []
    m["runner.trigger_p90_ms"] = spans.percentile(lat, 0.9) if lat else 0.0
    m.update(spans.fold_event_log(event_lines, obs["window"]))

    def span_s(prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in ctx.tracer.spans if s["name"].startswith(prefix))

    trig_s = sum(p["durationMs"].get("triggerExecution", 0) for p in obs["progress"]) / 1000.0
    m["runner.driver_gap_ms"] = (
        max(0.0, span_s("runner.run_") - trig_s) * 1000.0 if workload.stream else 0.0
    )
    m["windowed_agg.agg_build_ms"] = span_s("windowed_agg.") * 1000.0
    for name in (
        "runner.compaction_s",
        "runner.checkpoint_bytes",
        "runner.sink_bytes",
        "joins.enrich_calls",
        "kafka_io.encode_s",
        "kafka_io.decode_s",
    ):
        m[name] = ctx.counters.get(name, 0.0)
    records = ctx.counters.get("kafka_io.records", 0.0)
    m["kafka_io.decoded_ratio"] = ctx.counters.get("kafka_io.decoded", 0.0) / records if records else 0.0
    selfs = spans.self_times(spans.nest_by_time(ctx.tracer.spans))
    for layer in spans.LAYERS:
        m[f"self.{layer}_ms"] = selfs.get(layer, 0.0) * 1000.0
    traced_eps = events_per_s(workload, obs)
    untraced_eps = untraced["events_per_s"]
    m["trace.events_per_s_untraced"] = untraced_eps
    m["trace.events_per_s_traced"] = traced_eps
    m["trace.overhead_ratio"] = (untraced_eps - traced_eps) / untraced_eps if untraced_eps else 0.0
    m["baseline.local1_events_per_s"] = baseline.get("events_per_s", 0.0)
    m["baseline.local1_trigger_p50_ms"] = baseline.get("trigger_p50_ms", 0.0)
    m["host.cpu_probe_ms"] = canary["cpu_probe_ms"]
    m["host.fsync_probe_ms"] = canary["fsync_probe_ms"]
    m["host.cpu_steal_ratio"] = canary["cpu_steal_ratio"]
    return m


def run(args, root: str, work: str) -> tuple[dict, dict]:
    """One run; returns (result, detail)."""
    import host
    import spans
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    workload = WORKLOADS[args.workload]
    master = f"local[{cores()}]"
    session = Session(work)
    try:
        t_run = time.perf_counter()
        ticks = host.cpu_ticks()
        canary_before = host.canary(work)
        warm, data = workload.prepare(args.seed, work)
        prepare_s = time.perf_counter() - t_run

        off = Tracer(enabled=False)
        get_spark_s = session.start(master, off)
        ctx = Ctx(session.spark, work, off, session.progress)
        setup = (get_spark_s, warm_up(workload, ctx, warm))
        for _ in range(WARM_OPS):
            warm_up(workload, ctx, data)
        obs = measure(workload, ctx, data, args.seconds)
        metrics = end_to_end(workload, obs, sum(setup))
        rss_mb = host.peak_rss_mb(session.jvm_pid())
        failures = list(obs["failures"])
        attempted = len(obs["ops"]) + len(failures)
        lat, lat_steal = latencies_ms(workload, obs)
        detail = {
            "latencies_ms": lat,
            "latency_steal": [round(s, 4) for s in lat_steal],
            "samples": len(lat),
            "timed_samples": len(timed(workload, lat, lat_steal)),
            "samples_beyond_p90": spans.samples_beyond(len(lat), 0.9),
            "operations": len(obs["ops"]),
            "timed_operations": len(timed(workload, obs["ops"], obs["op_steal"])),
            "failures": failures,
        }

        if args.trace:
            tracer = Tracer(enabled=True)
            log_dir = os.path.join(work, "eventlog")
            session.start(master, tracer, log_dir)
            ctx = Ctx(session.spark, work, tracer, session.progress)
            warm_up(workload, ctx, warm)
            ctx.counters.clear()
            tracer.spans.clear()
            traced = measure(workload, ctx, data, args.seconds)
            failures += traced["failures"]
            attempted += len(traced["ops"]) + len(traced["failures"])
            baseline = {}
            if workload.name == BASELINE_WORKLOAD:
                session.start("local[1]", off)
                bctx = Ctx(session.spark, work, off, session.progress)
                warm_up(workload, bctx, warm)
                single = measure(workload, bctx, data, 0.0)
                failures += single["failures"]
                attempted += len(single["ops"]) + len(single["failures"])
                baseline = end_to_end(workload, single, 0.0)
            session.stop()
            canary_after = host.canary(work)
            steal = host.steal_ratio(ticks, host.cpu_ticks())
            metrics = per_layer(
                workload,
                traced,
                ctx,
                setup,
                {"events_per_s": metrics["events_per_s"], "peak_rss_mb": rss_mb},
                spans.read_event_logs(log_dir),
                baseline,
                {
                    **{k: (canary_before[k] + canary_after[k]) / 2 for k in canary_before},
                    "cpu_steal_ratio": steal,
                },
            )
            tracer.dump(os.path.join(root, ".perfbench", "out", f"spans-{args.workload}-{args.seed}.json"))
            detail["traced_operations"] = len(traced["ops"])
        else:
            canary_after = host.canary(work)
            steal = host.steal_ratio(ticks, host.cpu_ticks())
        detail["prepare_s"] = prepare_s
        detail["run_s"] = time.perf_counter() - t_run
        detail["host_before"] = canary_before
        detail["host_after"] = canary_after
        detail["host_steal_ratio"] = steal
        result = {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": metrics,
        }
        return result, detail
    finally:
        session.close()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
            spec = json.load(fh)
    except OSError as exc:
        print(f"no BENCHMARK.json in {root}: {exc}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"{PACKAGE}/ is not in {root}; run from the repository root", file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark_env(work)
    signal.signal(signal.SIGALRM, _alarm)
    try:
        result, detail = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(units) != set(result["metrics"]):
        missing = sorted(set(units) - set(result["metrics"]))
        extra = sorted(set(result["metrics"]) - set(units))
        print(f"metric set differs from BENCHMARK.json: missing {missing}, extra {extra}", file=sys.stderr)
        return 3
    result["metrics"] = {
        name: {"value": float(result["metrics"][name]), "unit": units[name]} for name in units
    }
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
