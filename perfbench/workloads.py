"""The benchmark's workloads, each driving the package through its public
functions only.

A workload knows how to write its seeded inputs and the oracle's answer
(``prepare``), and how to run one operation against a live session
(``op``). The same ``op`` on a smaller input is the warm-up, so set-up runs
the code paths the measurement will take.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import gen
from spans import Tracer, trigger_interval

from kafka_streams_rosetta_demo_spark import queries
from kafka_streams_rosetta_demo_spark.operators.joins import enrich_calls_with_customers
from kafka_streams_rosetta_demo_spark.schemas import CALLS_RAW
from kafka_streams_rosetta_demo_spark.sources.parquet import (
    events_schema,
    events_to_calls,
    normalize_event_ts,
    rosetta_customers,
)
from kafka_streams_rosetta_demo_spark.streaming import runner, transforms
from kafka_streams_rosetta_demo_spark.streaming.kafka_io import KafkaTopicSpec

ENRICHED_KEYS = ["id_telef_origen", "window_start_ts"]


class OutputMismatch(Exception):
    """The program's output differs from the oracle's."""


class ProgressLog(StreamingQueryListener):
    """Collects every trigger's progress JSON, and turns each into a trigger
    span under the runner call that was running when it arrived."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.parent: int | None = None
        self.progress: list[dict] = []
        self.terminated_at: list[float] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)
        if self.tracer.enabled:
            start, end = trigger_interval(p)
            self.tracer.record(
                "engine.trigger", start, end, self.parent, rows=p.get("numInputRows", 0)
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated_at.append(time.time())

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out

    def data_count(self) -> int:
        with self._lock:
            return sum(1 for p in self.progress if p.get("numInputRows", 0) > 0)

    def wait_for(self, data_triggers: int, timeout_s: float = 10.0) -> None:
        """Progress reaches Python asynchronously; wait until ``data_triggers``
        data-carrying triggers have arrived."""
        _wait(self.data_count, data_triggers, "data triggers", timeout_s)

    def terminations(self) -> int:
        with self._lock:
            return len(self.terminated_at)

    def wait_terminated(self, count: int, timeout_s: float = 10.0) -> float:
        """Wait until ``count`` queries have terminated; return when the last
        of them did."""
        _wait(self.terminations, count, "query terminations", timeout_s)
        with self._lock:
            return self.terminated_at[count - 1]


def _wait(current, target: int, what: str, timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while (got := current()) < target:
        if time.monotonic() > deadline:
            raise TimeoutError(f"expected {target} {what}, saw {got}")
        time.sleep(0.01)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


@dataclass
class Dataset:
    """One generated input: where it lives, its size, and the oracle's rows."""

    root: str
    events: int
    expected: object = None  # pandas.DataFrame
    shape: gen.CallShape | None = None  # for streams: the landing backlog
    corrupt: int = 0  # records damaged in flight, for the wire workload

    @property
    def triggers(self) -> int:
        """Data-carrying triggers one drain of the backlog takes."""
        return -(-self.shape.files // self.shape.files_per_trigger)


@dataclass
class Ctx:
    """What an operation needs besides its input."""

    spark: object
    work: str
    tracer: Tracer
    progress: ProgressLog | None
    counters: dict = field(default_factory=dict)
    seq: int = 0

    def fresh_dir(self, tag: str) -> str:
        self.seq += 1
        return os.path.join(self.work, "ops", f"{tag}-{self.seq}")

    def bump(self, name: str, by: float = 1.0) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + by


def oracle_rows(oracle_sql: str, events_glob: str, customer_path: str):
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_glob}')")
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{customer_path}')")
        return con.execute(oracle_sql).fetchdf()
    finally:
        con.close()


def assert_same_rows(actual, expected) -> None:
    """Multiset equality of two frames, compared by DuckDB on the expected
    frame's columns."""
    cols = ", ".join(f'"{c}"' for c in expected.columns)
    con = duckdb.connect()
    try:
        con.register("expected_rows", expected)
        con.register("actual_rows", actual)
        n_act = con.execute("SELECT count(*) FROM actual_rows").fetchone()[0]
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM actual_rows EXCEPT ALL "
            f"SELECT {cols} FROM expected_rows)"
        ).fetchone()[0]
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT {cols} FROM expected_rows EXCEPT ALL "
            f"SELECT {cols} FROM actual_rows)"
        ).fetchone()[0]
    finally:
        con.close()
    if extra or missing or n_act != len(expected):
        raise OutputMismatch(
            f"{n_act} rows vs {len(expected)} expected: {extra} unexpected, {missing} missing"
        )


class Workload:
    name = ""
    stream = False
    # Whether the timed metrics keep only the samples the host left alone
    # (``spans.quiet``). The stream's short triggers track CPU steal closely;
    # the wire's 3 s round trips vary as much between undisturbed runs, so
    # dropping their disturbed ones only shrinks the sample (two 10-seed sets:
    # spread 0.11-0.36 filtered, 0.03-0.27 with every operation kept).
    steal_filter = False

    def prepare(self, seed: int, work: str) -> tuple[Dataset, Dataset]:
        """Write the warm-up and the measured inputs; return both."""
        raise NotImplementedError

    def op(self, ctx: Ctx, data: Dataset) -> int:
        """Run one verified operation; return the input events it completed."""
        raise NotImplementedError


class CallsStreamUpdate(Workload):
    """The reference topology as a stream: hourly per-caller aggregate in
    update mode, each micro-batch enriched against the customer dimension."""

    name = "calls_stream_update"
    stream = True
    steal_filter = True
    shape = gen.CallShape(files=6, calls_per_file=2000, callers=20_000, zipf_s=1.3, late_share=0.05)
    warm_shape = gen.CallShape(files=1, calls_per_file=2000, callers=20_000, zipf_s=1.3, late_share=0.05)
    dim = gen.DimShape(customers=20_000, absent_share=0.10)

    def prepare(self, seed, work):
        oracle = queries.load_all()["rosetta_enriched"].oracle
        out = []
        for tag, shape, stream in (("warm", self.warm_shape, 1), ("main", self.shape, 0)):
            root = os.path.join(work, "data", tag)
            land = os.path.join(root, "land")
            gen.write_calls(seed, shape, land, stream=stream)
            cust = gen.write_customers(seed, self.dim, root)
            out.append(
                Dataset(
                    root,
                    shape.files * shape.calls_per_file,
                    expected=oracle_rows(oracle, os.path.join(land, "*.parquet"), cust),
                    shape=shape,
                )
            )
        return out[0], out[1]

    def op(self, ctx, data):
        spark, tr = ctx.spark, ctx.tracer
        land = os.path.join(data.root, "land")
        ckpt, sink = ctx.fresh_dir("ckpt"), ctx.fresh_dir("sink")
        with tr.span("sources.file_stream"):
            schema = events_schema(spark, land)
            calls = events_to_calls(
                normalize_event_ts(
                    runner.file_stream(
                        spark, land, schema, max_files_per_trigger=data.shape.files_per_trigger
                    )
                )
            )
            customers = rosetta_customers(spark, data.root)
        with tr.span("windowed_agg.streaming_windowed_call_agg"):
            agg = transforms.streaming_windowed_call_agg(calls)

        def enrich(batch):
            ctx.bump("joins.enrich_calls")
            with tr.span("joins.enrich_calls_with_customers"):
                return enrich_calls_with_customers(batch, customers)

        ended_before = ctx.progress.terminations()
        with runner.backlog_state_shuffle(spark, land), tr.span(
            "runner.run_update_query_to_df"
        ) as sp:
            ctx.progress.parent = sp.sid
            result = runner.run_update_query_to_df(agg, ENRICHED_KEYS, ckpt, sink, batch_fn=enrich)
        _after_stream(ctx, ckpt, sink, ended_before)
        try:
            with tr.span("oracle.verify"):
                assert_same_rows(result.toPandas(), data.expected)
        finally:
            result.unpersist()
            runner.release_streaming_result_pins()
            _drop(ckpt, sink)
        return data.events


def _after_stream(ctx: Ctx, ckpt: str, sink: str, ended_before: int) -> None:
    """When tracing, record what a finished stream left on disk and how long
    the runner took from the query's end to the pinned result. The query's
    termination reaches Python asynchronously, so wait for this stream's."""
    if not ctx.tracer.enabled:
        return
    pinned = time.time()
    ended = ctx.progress.wait_terminated(ended_before + 1)
    ctx.bump("runner.compaction_s", max(0.0, pinned - ended))
    ctx.bump("runner.checkpoint_bytes", dir_bytes(ckpt))
    ctx.bump("runner.sink_bytes", dir_bytes(sink))


def _drop(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


# Every 43rd record (by key) loses the back half of its body in flight.
CORRUPT_EVERY = 43


class CallsWireAvro(Workload):
    """Call records through the reference's wire format: Confluent-framed
    Avro, serialized then parsed, with injected truncations."""

    name = "calls_wire_avro"
    records = CORRUPT_EVERY * 1163  # 50,009: a whole number of corrupt slots
    warm_records = CORRUPT_EVERY * 47

    def spec(self) -> KafkaTopicSpec:
        return KafkaTopicSpec(
            topic="calls", value_schema=CALLS_RAW, serde="auto", wire_format="confluent"
        )

    def prepare(self, seed, work):
        out = []
        for tag, n, stream in (("warm", self.warm_records, 1), ("main", self.records, 0)):
            root = os.path.join(work, "data", tag)
            os.makedirs(root, exist_ok=True)
            shape = gen.CallShape(files=1, calls_per_file=n, callers=20_000, zipf_s=1.3, late_share=0.05)
            t = next(gen.call_files(seed, shape, stream))
            ts_ms = pc.cast(t["ts"], pa.timestamp("ms"), safe=False)  # the schema is epoch ms
            src = pa.table(
                {
                    "event_id": t["event_id"],
                    "id_telef_origen": pc.cast(t["user_id"], pa.string()),
                    "duracion_origen": pc.cast(pc.floor(t["value"]), pa.int64()),
                    "event_ts": pc.cast(ts_ms, pa.timestamp("us")),
                }
            )
            pq.write_table(src, os.path.join(root, "calls.parquet"))
            keep = (src["event_id"].to_numpy() % CORRUPT_EVERY) != CORRUPT_EVERY - 1
            out.append(
                Dataset(
                    root,
                    n,
                    expected=src.filter(pa.array(keep)).to_pandas(),
                    corrupt=int((~keep).sum()),
                )
            )
        return out[0], out[1]

    def op(self, ctx, data):
        spark, tr, spec = ctx.spark, ctx.tracer, self.spec()
        wire = ctx.fresh_dir("wire")
        with tr.span("sources.read_parquet"):
            src = spark.read.parquet(os.path.join(data.root, "calls.parquet"))
        try:
            t = time.perf_counter()
            with tr.span("kafka_io.serialize"):
                spec.serialize(src, "event_id").write.parquet(wire)
            ctx.bump("kafka_io.encode_s", time.perf_counter() - t)
            t = time.perf_counter()
            with tr.span("kafka_io.parse"):
                raw = spark.read.parquet(wire)
                value = F.col("value")
                cut = F.expr("substring(value, 1, 5 + (length(value) - 5) div 2)")
                in_flight = raw.select(
                    "key",
                    F.when(F.col("key").cast("long") % CORRUPT_EVERY == CORRUPT_EVERY - 1, cut)
                    .otherwise(value)
                    .alias("value"),
                    F.lit(0).cast("timestamp").alias("timestamp"),
                )
                decoded = (
                    spec.parse(in_flight)
                    .select(F.col("key").cast("long").alias("event_id"), *CALLS_RAW.fieldNames())
                    .toPandas()
                )
            ctx.bump("kafka_io.decode_s", time.perf_counter() - t)
        finally:
            _drop(wire)
        with tr.span("oracle.verify"):
            if data.events - len(decoded) != data.corrupt:
                raise OutputMismatch(
                    f"dropped {data.events - len(decoded)} records, injected {data.corrupt}"
                )
            assert_same_rows(decoded, data.expected)
        ctx.bump("kafka_io.records", data.events)
        ctx.bump("kafka_io.decoded", len(decoded))
        return data.events


WORKLOADS = {w.name: w for w in (CallsStreamUpdate(), CallsWireAvro())}
