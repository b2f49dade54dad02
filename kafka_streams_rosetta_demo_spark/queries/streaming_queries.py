"""Streaming topologies run end to end under the batch correctness gate.

Each query here is a topology plus its oracle. The topology runs as a *real
Structured Streaming query* — file source, watermark, update- or append-mode
emission, checkpointed state — to completion with ``availableNow``, through
:func:`~..streaming.runner.run_topology`, which owns the rest: staging the
source (or reading the landing ``events.parquet``), ``maxFilesPerTrigger=1``
micro-batches, the state-partition rule, the checkpoint/sink temp tree and
the restore of every conf it sets. Every query drains into the runner's
one exactly-once sink, an executor-side parquet log with one overwritten
``_batch_id=<id>`` directory per micro-batch: append-mode queries read the
whole log back; update-mode queries (``keys=``) compact it
last-write-per-key (the compacted-output-topic read). Nothing moves through
the driver.

Twin contract. A stream with a batch twin is defined once, by the twin:

- its oracle is the twin's oracle object (``REGISTRY["<twin>"].oracle``,
  the very string the twin registered), so the gate proves the streaming
  execution path computes the twin's table — the strongest brokerless
  check available for SURVEY §2.1/§2.6 (S1 file form, S2, J1, T1–T4);
- its body is the twin's stages around :func:`run_topology`: where the
  batch query is ``post(stage(table))``, the stream is
  ``post(run_topology(..., stage))``, the stage passed as ``build`` (run on
  the stream) or as ``batch_fn`` (run on each micro-batch).

Only what a batch plan cannot express is written here: watermarks, the
windowed groupings that replace batch bucket ids, the ±band stream-stream
join, and how the input is staged into micro-batches.

The events-table topologies read ``events.parquet`` as one micro-batch
(``streaming_dedup_events`` lands the events and their redelivery as one
file); the ingest screens and monitors stage their input as three files
(``repartition(3)``), one per micro-batch. Late-data watermark drops,
restarts without replay and incremental re-emission over split inputs are
pinned in tests/test_streaming.py, where the input can be split and
replayed deliberately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.joins import enrich_calls_with_customers
from ..sources.parquet import events_to_calls, normalize_event_ts, rosetta_customers
from ..streaming.runner import run_topology
from ..streaming.transforms import streaming_latest_per_key, streaming_windowed_call_agg
# Importing the batch modules registers the twins read from REGISTRY.
from . import REGISTRY, corpus_queries, preference_queries, register  # noqa: F401
from .dedup_queries import winnow_screen_verdicts
from .relational_queries import _PSI_BINS, ohlc_bars, psi_histogram, psi_report
from .rosetta_queries import (
    CALL_AGG_CTE,
    KTABLE_LATEST,
    avro_roundtrip_counters,
    session_totals,
    wire_framing_counters,
)

# The events-table topologies stream the landing directory's events file.
_EVENTS = "events.parquet"

# The final watermark of the events stream under its 24-hour delay: an
# append-mode topology has emitted exactly the windows that closed by it.
_FINAL_WM_CTE = """wm AS (
  SELECT max(date_trunc('microseconds', ts)) - INTERVAL 24 HOURS AS cutoff
  FROM events
)"""


@register(
    "streaming_calls_window_agg",
    oracle=REGISTRY["rosetta_calls_window_agg"].oracle,
)
def streaming_calls_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline 1 as a *streaming* query (``CallsAggregationApp`` whole):
    file-source CALLS stream → 24h watermark → 1h tumbling update-mode
    aggregate → checkpointed foreachBatch changelog merge. Final state must
    hash-match the batch twin's oracle (rosetta_calls_window_agg) — one
    plan, two execution modes, one answer."""
    # data-grain key space (phone × window): backlog-sized state
    return run_topology(
        spark,
        sf_dir,
        lambda ev: streaming_windowed_call_agg(events_to_calls(normalize_event_ts(ev))),
        glob=_EVENTS,
        keys=["id_telef_origen", "window_start"],
        state="backlog",
    )


@register("streaming_ktable_latest", oracle=REGISTRY["rosetta_ktable_latest"].oracle)
def streaming_ktable_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 as a streaming query: ``builder.table(topic)`` — latest-per-key
    state maintained by the same max_by aggregate as the batch twin, in
    update mode with checkpointed state, over the twin's key/order/value
    spec (``KTABLE_LATEST``). Final state must equal the batch answer
    (rosetta_ktable_latest's oracle)."""
    return run_topology(
        spark,
        sf_dir,
        lambda ev: streaming_latest_per_key(normalize_event_ts(ev), **KTABLE_LATEST),
        glob=_EVENTS,
        keys=["user_id"],
        state="backlog",
    )


@register("streaming_enriched", oracle=REGISTRY["rosetta_enriched"].oracle)
def streaming_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two reference topologies fused, streaming end to end: windowed
    update-mode aggregate → per-micro-batch broadcast-lookup left join
    against the customer dimension (J1 in its temporal-lookup form) →
    changelog merge. Final state must hash-match the batch flagship's
    oracle (rosetta_enriched)."""
    customers = rosetta_customers(spark, sf_dir)
    return run_topology(
        spark,
        sf_dir,
        lambda ev: streaming_windowed_call_agg(events_to_calls(normalize_event_ts(ev))),
        glob=_EVENTS,
        keys=["id_telef_origen", "window_start_ts"],
        state="backlog",
        batch_fn=lambda batch: enrich_calls_with_customers(batch, customers),
    )


@register(
    "streaming_suppress_final",
    oracle=f"""
WITH {CALL_AGG_CTE.strip()},
{_FINAL_WM_CTE}
SELECT a.id_telef_origen, a.window_start, a.calls_count,
       a.max_duracion_origen, a.total_duracion_origen, a.avg_duracion_origen
FROM call_agg a, wm
WHERE a.window_end <= wm.cutoff
""",
)
def streaming_suppress_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS ``suppress(Suppressed.untilWindowCloses())`` as a registered query
    (X38 query-shaped): the same windowed aggregate as
    streaming_calls_window_agg but in **append** output mode, where Spark
    withholds each (key, window) row until the watermark passes the window
    end and then emits it exactly once, final. The emitted set is therefore
    *deterministically smaller* than the update-mode state: only windows
    whose end precedes ``max(event_ts) - 24h`` (the final watermark) have
    closed — the oracle states exactly that cutoff, so the gate pins the
    suppression contract itself, not just the aggregate math.

    State story: append mode evicts a window's state at emission, so
    suppression costs no second buffer (unlike KS, which stacks a
    suppression store on the window store)."""
    def final(ev: DataFrame) -> DataFrame:
        return streaming_windowed_call_agg(
            events_to_calls(normalize_event_ts(ev))
        ).select(
            "id_telef_origen",
            "window_start",
            "calls_count",
            "max_duracion_origen",
            "total_duracion_origen",
            "avg_duracion_origen",
        )

    return run_topology(spark, sf_dir, final, glob=_EVENTS, state="backlog")


@register("streaming_interval_join", oracle=REGISTRY["join_range"].oracle)
def streaming_interval_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KS windowed stream-stream join (``JoinWindows``) as a registered
    query (X28 query-shaped): the events stream self-joined within a
    ±5-minute band on the same user — both sides watermarked, the time-band
    condition bounding join state (a row evicts once the other side's
    watermark passes ``ts + tolerance``). Inner matches emit in append mode
    as they are found; the emitted pair set must equal the batch
    ``join_range`` answer (its oracle), which is exactly the
    stream-equals-batch contract for interval joins. The ±band join stays
    here: ``join_range`` is a batch self-join with no watermark.
    """
    from pyspark.sql import functions as F

    from ..streaming.transforms import streaming_interval_join

    def pairs(raw: DataFrame) -> DataFrame:
        ev = normalize_event_ts(raw).select("event_id", "user_id", "ts")
        joined = streaming_interval_join(
            ev, ev, key="user_id", left_ts="ts", right_ts="ts", tolerance_seconds=300
        )
        return joined.where(F.col("l.event_id") < F.col("r.event_id")).select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("event_a"),
            F.col("r.event_id").alias("event_b"),
            F.abs(
                F.unix_micros(F.col("l.ts")) - F.unix_micros(F.col("r.ts"))
            ).alias("diff_us"),
        )

    return run_topology(spark, sf_dir, pairs, glob=_EVENTS, state="backlog")


@register(
    "streaming_session_windows",
    oracle=f"""
WITH sess AS ({REGISTRY["window_session"].oracle}),
{_FINAL_WM_CTE}
SELECT sess.user_id, sess.session_start, sess.session_end,
       sess.n_events, sess.total_value
FROM sess, wm WHERE sess.session_end <= wm.cutoff
""",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows as a *streaming* query — the hardest native state
    shape: unlike fixed windows, sessions MERGE as events arrive (two open
    sessions coalesce when a bridging event lands), so state is keyed by a
    window that moves. Spark's ``session_window`` + 24h watermark in append
    mode emits each merged session exactly once, final, when the watermark
    passes its end — no event at or above the watermark can extend a
    session that ended before it, which is precisely the gap-window
    finality rule. The oracle is window_session's gap-islands oracle nested
    as a CTE, restricted to sessions closed by the final watermark
    ``max(ts) - 24h`` — so the gate pins both the session math and the
    finality cutoff. The body is window_session's ``session_totals`` stage
    over the watermarked stream.

    State story: one shuffle on user_id; per-key state holds only OPEN
    sessions (watermark evicts closed ones at emission), the bounded-state
    contract KS session stores share."""
    return run_topology(
        spark,
        sf_dir,
        lambda ev: session_totals(
            normalize_event_ts(ev).withWatermark("ts", "24 hours")
        ),
        glob=_EVENTS,
        state="backlog",
    )


@register("streaming_wire_roundtrip", oracle=REGISTRY["kafka_wire_framing"].oracle)
def streaming_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S5 as a streaming topology: every record serializes through the
    Confluent-framed value serde (0x00 magic + int32 schema id + body) and
    deserializes back *inside a running stream* — the closest brokerless
    equivalent of producing to and consuming from the reference's
    Schema-Registry topics. The magic byte of every 41st record is mangled
    in flight, so the header check (not the body parse) rejects it, and the
    per-event-type drop counters accumulate in checkpointed update-mode
    state. The per-micro-batch stage is kafka_wire_framing's
    ``wire_framing_counters``, and final state must match its oracle.

    State story: the aggregate keys on event_type — bounded, tiny — and the
    serde is pure per-row JVM expressions, so the streaming plan adds no
    state beyond the counter rows."""
    # State keys on event_type — a small enumeration by construction
    # (the docstring's "the only state is the event_type counter rows").
    return run_topology(
        spark,
        sf_dir,
        lambda ev: wire_framing_counters(normalize_event_ts(ev)),
        glob=_EVENTS,
        keys=["event_type"],
        state=4096,
    )


@register("streaming_avro_roundtrip", oracle=REGISTRY["kafka_avro_roundtrip"].oracle)
def streaming_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``kafka_avro_roundtrip``'s topology inside a running checkpointed
    stream: every record serializes to genuine Confluent-framed AVRO bytes
    (the columnar Python Avro 1.12 codec as Arrow UDFs —
    ``streaming/avro_codec.compile_flat``, cross-validated against the
    JVM's Avro)
    and deserializes back per micro-batch; every 43rd record's body is
    truncated in flight so the Avro decoder itself must reject it, and the
    per-event-type counters accumulate in checkpointed update-mode state
    that must match the batch oracle. The closest brokerless equivalent of
    producing Avro to and consuming Avro from the reference's topics
    (``SpecificAvroSerde``, ``CallsAggregationApp.java:33,40-41``). The
    per-micro-batch stage is the twin's ``avro_roundtrip_counters``.

    State story: identical to ``streaming_wire_roundtrip`` — serde is
    per-row (JVM framing + columnar codec), the only state is the
    event_type counter rows."""
    # Same bounded state as streaming_wire_roundtrip: event_type counter rows.
    return run_topology(
        spark,
        sf_dir,
        lambda ev: avro_roundtrip_counters(normalize_event_ts(ev)),
        glob=_EVENTS,
        keys=["event_type"],
        state=4096,
    )


@register(
    "streaming_dedup_events",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once redelivery scrub as a registered streaming query
    (X27 query-shaped): the events file staged TWICE into the landing zone —
    a fully redelivered topic, the at-least-once failure mode T5 implies —
    then ``dropDuplicatesWithinWatermark`` on the event id. The scrubbed
    append stream must land exactly on the batch ``SELECT`` of the events
    table (events are unique by id, so the oracle is the table itself —
    every surviving duplicate or dropped original would hash-mismatch).

    State story: within-watermark dedup keeps one sighting per key only
    until the watermark passes it (bounded), vs. an unbounded
    ``dropDuplicates`` whose state grows with distinct keys forever.
    Redelivered rows behind the watermark drop at input — also correct:
    their first sighting already emitted.
    """
    from ..sources.parquet import load_table
    from ..streaming.transforms import streaming_dedup_within_watermark

    ev = load_table(spark, sf_dir, "events")
    # the whole topic and its redelivery, landed as one micro-batch
    redelivered = ev.unionByName(ev).coalesce(1)
    return run_topology(
        spark,
        redelivered,
        lambda s: streaming_dedup_within_watermark(
            s, keys=["event_id"], ts_col="ts"
        ).select("event_id", "user_id", "event_type", "value"),
        state="backlog",
    )


@register(
    "streaming_cms_sketch",
    oracle="""
WITH depths AS (SELECT unnest(range(0, 4)) AS d),
hashed AS (
  SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h1,
         CAST('0x' || substr(md5(reverse(CAST(user_id AS VARCHAR))), 1, 15) AS BIGINT) AS h2
  FROM events
)
SELECT d, (h1 + d * h2) % 2048 AS bucket, count(*) AS c
FROM hashed CROSS JOIN depths
GROUP BY 1, 2
""",
)
def streaming_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained AS STREAMING STATE: the per-key hot-key /
    heavy-hitter monitor a 100 TB ingest runs continuously. The cell grid
    (4×2048) is the aggregation key space, so the state store is bounded BY
    CONSTRUCTION no matter how many events or distinct keys flow through —
    the reason sketches, not exact count tables, are the streaming
    frequency primitive (an exact per-key count in update mode grows with
    key cardinality; this never exceeds depth×width rows). No watermark is
    needed: nothing is ever evicted because nothing ever grows. Update-mode
    emission + checkpointed foreachBatch changelog merge, and the final
    sketch must hash-match the batch-built cells over the same events
    (the oracle replays the identical md5 bucket hash)."""
    from pyspark.sql import functions as F

    from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_build

    def cells(ev: DataFrame) -> DataFrame:
        return cms_build(
            normalize_event_ts(ev).select(F.col("user_id").cast("string").alias("item")),
            "item",
            CMS_DEPTH,
            CMS_WIDTH,
        )

    # The 4×2048 cell grid IS the key space.
    return run_topology(
        spark,
        sf_dir,
        cells,
        glob=_EVENTS,
        keys=["d", "bucket"],
        state=CMS_DEPTH * CMS_WIDTH,
    )


@register(
    "streaming_stateful_totals",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY user_id
""",
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSTOM stateful operator surface (Kafka Streams
    ``transformValues``/``Processor`` analogue, SURVEY §2.7 /X19) run as a
    gate query: an ``applyInPandasWithState`` per-key accumulator with
    integer state (event count + cent total), update-mode emission,
    checkpointed state store, final state hash-matching the batch
    aggregate. Integer state is what makes the contract EXACT — a float
    accumulator's result depends on arrival order; this one cannot.
    State is two longs per key, Arrow-batched per micro-batch — the
    bounded-keyed-state shape of every KTable-like operator here."""
    from ..streaming.stateful import running_totals_cents

    # Session-default state (r14 wave 5: backlog sizing measured 1.19x
    # WORSE): per-row PYTHON state work scales with arriving rows, not
    # keys — one state partition would serialize it onto one Python worker.
    return run_topology(
        spark,
        sf_dir,
        lambda ev: running_totals_cents(normalize_event_ts(ev)),
        glob=_EVENTS,
        keys=["user_id"],
    )


@register(
    "streaming_interval_join_outer",
    oracle="""
WITH ev AS (
  SELECT event_id, user_id, event_type,
         date_trunc('microseconds', ts) AS ts
  FROM events
),
c AS (
  SELECT event_id AS event_a, user_id, ts AS cts
  FROM ev WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS event_b, user_id AS k2, ts AS pts
  FROM ev WHERE event_type = 'purchase'
),
cut AS (
  SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
         - INTERVAL 10 MINUTE - INTERVAL 300 SECOND - INTERVAL 2 SECOND
         AS cutoff
),
closed AS (
  SELECT * FROM c WHERE cts <= (SELECT cutoff FROM cut)
)
SELECT closed.user_id,
       closed.event_a,
       p.event_b,
       CASE WHEN p.event_b IS NULL THEN NULL
            ELSE abs(epoch_us(p.pts) - epoch_us(closed.cts)) END AS diff_us
FROM closed
LEFT JOIN p
  ON p.k2 = closed.user_id
 AND abs(epoch_us(p.pts) - epoch_us(closed.cts)) <= 300000000
""",
)
def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KS ``leftJoin(JoinWindows)`` shape driver-green: clicks
    LEFT-OUTER interval-joined to purchases (same user, ±5 min) as a real
    checkpointed append-mode stream — an unmatched click emits exactly
    once, null-padded, only after the watermark PROVES no partner can
    still arrive (nothing emits early to be retracted later; state evicts
    at the same boundary, so outer-ness costs no extra retention).

    Determinism vs the batch oracle: the tail of any finite stream is
    never provably closed (the global watermark is min over both sides'
    event-time maxima minus the 10-min delay), so the query restricts BOTH
    engines to the provably-closed region — rows at most
    ``min(max_click, max_purchase) - delay - tolerance - 2s slack`` (the
    watermark is millisecond-truncated and the close condition strict;
    the slack stays strictly inside the closed region on both sides of
    the comparison, so boundary rounding can't flip a row). The cutoff is
    computed from the same parquet the stream reads — pure data, no clock.
    ``tests/test_streaming.py`` pins the raw emission contract itself
    (matched == batch inner join, null rows genuinely unmatched, closed
    rows all emitted); this query is the oracle-checked composition.
    """
    from pyspark.sql import functions as F

    from ..sources.parquet import load_table

    ev_b = normalize_event_ts(load_table(spark, sf_dir, "events"))
    maxes = (
        ev_b.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .collect()
    )
    wm_base = min(r.m for r in maxes)
    from datetime import timedelta

    cutoff = wm_base - timedelta(minutes=10) - timedelta(seconds=300 + 2)

    from ..streaming.transforms import streaming_interval_join

    def left_join(raw: DataFrame) -> DataFrame:
        ev = normalize_event_ts(raw)
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", F.col("user_id").alias("k"), "ts"
        )
        purchases = ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("k"),
            F.col("ts").alias("p_ts"),
        )
        return streaming_interval_join(
            clicks,
            purchases,
            key="k",
            left_ts="ts",
            right_ts="p_ts",
            tolerance_seconds=300,
            watermark="10 minutes",
            how="left_outer",
        ).select(
            F.col("l.k").alias("user_id"),
            F.col("l.event_id").alias("event_a"),
            F.col("r.p_event_id").alias("event_b"),
            (
                F.abs(F.unix_micros(F.col("r.p_ts")) - F.unix_micros(F.col("l.ts")))
            ).alias("diff_us"),
            F.col("l.ts").alias("_cts"),
        )

    out = run_topology(spark, sf_dir, left_join, glob=_EVENTS, state="backlog")
    return out.where(F.col("_cts") <= F.lit(cutoff)).drop("_cts")


@register(
    "streaming_range_join_keyless",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, event_type,
         epoch_us(date_trunc('microseconds', ts)) AS t_us
  FROM events),
w AS (
  SELECT event_id AS win_id, t_us AS w_start FROM e WHERE event_type = 'error')
SELECT win_id,
       e.event_id AS matched_event,
       e.user_id,
       CAST(e.t_us - w.w_start AS BIGINT) AS lag_us
FROM w JOIN e
  ON e.t_us >= w.w_start
 AND e.t_us <  w.w_start + 120000000
 AND e.event_id <> w.win_id
""",
)
def streaming_range_join_keyless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``join_range_keyless`` (X114): a stream-stream join
    with NO natural equi key — 2-minute incident windows opened by error
    events matched against events from ANY user. The batch trick carries
    over unchanged: both sides key by the derived 120-second time BIN
    (window side exploded into the 1-2 bins it covers, probe side tagged
    with its single containing bin), so the StreamingSymmetricHashJoin has
    a real hash key, and the exact ``[w_ts, w_ts+120s)`` band rides as the
    join residual. The band is ALSO the state bound: a probe row evicts
    once the window side's watermark passes ``e_ts``, a window row once the
    probe watermark passes ``w_ts + 120 s`` — state never exceeds one
    watermark's worth of either stream per bin, precisely the bound the
    batch plan's bin fan-in analysis gives.

    Emitted at pair grain (streaming aggregation after a stream-stream
    join cannot carry countDistinct; the batch twin does the rollup) in
    append mode through the runner's batch-id-keyed parquet sink, and
    hash-matched against the same naive quadratic oracle as the batch
    query — stream equals batch, again."""
    from pyspark.sql import functions as F

    bin_us = 120_000_000

    def binned_join(raw: DataFrame) -> DataFrame:
        ev = normalize_event_ts(raw).select("event_id", "user_id", "event_type", "ts")
        w = (
            ev.where(F.col("event_type") == "error")
            .select(F.col("event_id").alias("win_id"), F.col("ts").alias("w_ts"))
            .withWatermark("w_ts", "24 hours")
            .withColumn(
                "wbin",
                F.explode(
                    F.sequence(
                        F.expr(f"unix_micros(w_ts) div {bin_us}"),
                        F.expr(f"(unix_micros(w_ts) + {bin_us} - 1) div {bin_us}"),
                    )
                ),
            )
        )
        e = (
            ev.select(
                F.col("event_id").alias("e_id"),
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"),
            )
            .withWatermark("e_ts", "24 hours")
            .withColumn("ebin", F.expr(f"unix_micros(e_ts) div {bin_us}"))
        )
        return w.join(
            e,
            (F.col("wbin") == F.col("ebin"))
            & (F.col("e_ts") >= F.col("w_ts"))
            & (F.col("e_ts") < F.col("w_ts") + F.expr("INTERVAL 120 SECONDS"))
            & (F.col("e_id") != F.col("win_id")),
        ).select(
            "win_id",
            F.col("e_id").alias("matched_event"),
            F.col("e_user").alias("user_id"),
            (F.unix_micros(F.col("e_ts")) - F.unix_micros(F.col("w_ts"))).alias(
                "lag_us"
            ),
        )

    return run_topology(spark, sf_dir, binned_join, glob=_EVENTS, state="backlog")


@register(
    "streaming_downsample_ohlc",
    oracle=REGISTRY["timeseries_downsample_ohlc"].oracle,
)
def streaming_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``timeseries_downsample_ohlc`` (X117): live OHLC
    bars as an update-mode windowed aggregate. The point under test is that
    ``min_by``/``max_by`` with a STRUCT ordering key are legal streaming
    state — each bar's open/close live in the state store as a single
    (order-key, value) candidate per (series, window), merged
    associatively per micro-batch, so arrival order cannot flip endpoints
    (the batch twin's ``ohlc_bars`` aggregate and its oracle).

    The 6-hour tumbling ``window()`` is epoch-aligned, so
    ``unix_micros(window.start) div 21600000000`` reproduces the batch
    bucket ids exactly. State: one OHLC row per (series, open window),
    watermark-evicted — the live-metrics dashboard shape. Runs through the
    executor-side parquet changelog + last-write-per-key compaction (the
    production sink; nothing through the driver)."""
    from pyspark.sql import functions as F

    def bars(raw: DataFrame) -> DataFrame:
        ev = normalize_event_ts(raw).withWatermark("ts", "24 hours")
        agg = ohlc_bars(ev, "event_type", F.window("ts", "6 hours").alias("w"))
        return agg.select(
            "event_type",
            F.expr("unix_micros(w.start) div 21600000000").alias("bucket"),
            "open_v",
            "high_v",
            "low_v",
            "close_v",
            "n",
        )

    # State is one OHLC row per (series, open window) with the watermark
    # evicting closed bars — |types| × in-play buckets, bounded by
    # construction.
    return run_topology(
        spark, sf_dir, bars, glob=_EVENTS, keys=["event_type", "bucket"], state=4096
    )


@register(
    "streaming_theta_distinct",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tolerance
FROM events
GROUP BY event_type
""",
)
def streaming_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count with MERGEABLE sketch state: per event
    type, a theta sketch of user ids accumulates across micro-batches as
    update-mode aggregation state — the live "unique users right now"
    metric whose state is a fixed-size sketch instead of a distinct-set
    (a streaming ``countDistinct`` is unsupported/unbounded; the sketch
    is the production answer). The exact count rides alongside in the
    same aggregate as the verification harness (X80 contract: the query
    flags its own estimate against its own exact; the oracle emits exact
    + TRUE; theta is exact below nominal k=4096 entries, so at gate
    scale the flag is deterministically green).

    Runs checkpointed through the executor-side parquet changelog +
    last-write-per-key compaction, like every update-mode gate query."""
    from pyspark.sql import functions as F

    def sketches(raw: DataFrame) -> DataFrame:
        ev = normalize_event_ts(raw).withWatermark("ts", "24 hours")
        return (
            ev.groupBy("event_type")
            .agg(F.theta_sketch_agg("user_id").alias("sk"))
            .select("event_type", F.theta_sketch_estimate("sk").alias("est_users"))
        )

    # State is one fixed-size theta sketch per event type (the docstring's
    # whole point). Sketch union is a set union of retained hashes, so
    # partition count cannot change the estimate.
    snap = run_topology(
        spark, sf_dir, sketches, glob=_EVENTS, keys=["event_type"], state=4096
    )
    # exact side: latest-per-key state cannot carry countDistinct in
    # streaming; the exact count comes from the BATCH read of the same
    # source (the verification harness, exactly as X80's batch queries
    # keep exact separate from the operator path)
    from ..sources.parquet import load_table

    exact = (
        normalize_event_ts(load_table(spark, sf_dir, "events"))
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return snap.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= F.ceil(F.col("exact_users") * F.lit(0.06))
        ).alias("within_tolerance"),
    )


@register("streaming_drift_psi", oracle=REGISTRY["profile_drift_psi"].oracle)
def streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PSI drift monitor run CONTINUOUSLY: the event stream maintains
    its fixed-bin value histogram as streaming state (update mode, one
    conditional aggregate over the 10-bin key space — bounded BY
    CONSTRUCTION like the CMS cells, so no watermark and no eviction),
    and the PSI arithmetic runs over the compacted 10-row changelog
    exactly as the batch monitor does. This is how a 100 TB ingest
    watches itself drift between two deployment windows without ever
    rescanning history: the histogram is the only state, and it is 10
    longs per side. The histogram and the PSI math are the batch monitor's
    ``psi_histogram`` and ``psi_report`` stages, and the final numbers must
    hash-match its oracle over the same events."""
    # The 10-bin histogram IS the key space (bounded like the CMS cells).
    counts = run_topology(
        spark,
        sf_dir,
        lambda ev: psi_histogram(normalize_event_ts(ev)),
        glob=_EVENTS,
        keys=["bin"],
        state=_PSI_BINS,
    )
    return psi_report(spark, counts)


@register(
    "streaming_winnowing_screen",
    oracle=REGISTRY["dedup_winnowing_screen"].oracle,
)
def streaming_winnowing_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X143 per-ingest dedup screen run AS the ingest: the new-doc
    batch arrives as a STREAM (three staged parquet files, one per
    micro-batch), each micro-batch fingerprints only its own documents
    (winnowing is per-document, so fingerprints never cross micro-batch
    boundaries and the screen needs NO streaming state — the one dedup
    shape where statelessness is exact, unlike cross-batch dedup which
    needs the watermarked state of ``streaming_dedup_events``), probes the
    STATIC corpus fingerprint index (the memoized family artifact — at
    100 TB a bucketed table the ingest job reads, not rebuilds), and
    appends its keep/drop verdicts to the executor-side changelog. Final
    compacted output must hash-match the batch screen's oracle — the
    strongest proof the continuous path computes the identical gate.

    Plan per micro-batch: per-row JVM fingerprinting of the arriving docs
    → equi-join on fingerprint value against the corpus index (batch
    posting lists vs corpus posting lists — candidate-bounded, never
    all-pairs) → distinct-corpus-doc count per arriving doc (the
    ``_WIN_SCREEN_MIN_SHARED`` gate, inheriting winnowing's recall theorem
    — see ``dedup_winnowing_screen``) → left join back onto the arriving
    docs (coverage guard: short docs carry through). Everything after the
    fingerprinting is the batch screen's ``winnow_screen_verdicts`` stage.
    Each doc appears in exactly one micro-batch, so per-batch aggregation
    is globally correct and the changelog holds one row per doc."""
    from pyspark.sql import functions as F

    from ..operators.textsim import winnow_fingerprints
    from ..sources.parquet import load_table
    from .artifacts import winnowing_index

    index = winnowing_index(spark, sf_dir)
    arriving = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .repartition(3)  # three files -> three genuine micro-batches
    )
    return run_topology(
        spark,
        arriving,
        keys=["doc_id"],
        batch_fn=lambda b: winnow_screen_verdicts(
            b.select("doc_id"), winnow_fingerprints(b), index
        ),
    )


@register(
    "streaming_bpe_token_rate",
    oracle=REGISTRY["text_bpe_fertility"].oracle,
)
def streaming_bpe_token_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-throughput monitor run AS the ingest: documents
    arrive as a STREAM (three staged parquet files, one per micro-batch),
    each micro-batch explodes to words through the shared split
    (``explode_words`` — the same single definition the batch queries and
    the oracle CTEs use), joins the STATIC corpus-trained vocabulary map
    (``bpe_word_tokens`` — broadcast model state, exactly how a cluster
    ships a frozen tokenizer to every executor), and folds per-source
    word/BPE-token/char totals into the streaming aggregation state. This
    is how a 100 TB ingest watches its tokenizer fertility drift per
    source batch-over-batch without rescanning history.

    State bound: the aggregate is keyed by ``source``, so state is
    |sources| rows of four longs BY CONSTRUCTION — the PSI/CMS bounded-
    key-space shape; no watermark and no eviction are needed (nothing
    grows with the corpus). The micro-batch stage and the post-math are
    the batch query's ``fertility_totals`` and ``fertility_report``, and
    the result must hash-match ``text_bpe_fertility``'s oracle — the proof
    the continuous path computes the identical table."""
    from ..sources.parquet import load_table
    from .artifacts import bpe_word_tokens
    from .corpus_queries import fertility_report, fertility_totals

    wt = bpe_word_tokens(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    # |sources|-row bounded state (the docstring's bound)
    totals = run_topology(
        spark,
        docs.repartition(3),
        lambda stream: fertility_totals(stream, wt, "n_bpe_tokens"),
        keys=["source"],
        state=4096,
    )
    return fertility_report(totals, "n_bpe_tokens")


@register(
    "streaming_preference_winrate",
    oracle=REGISTRY["preference_winrate_matrix"].oracle,
)
def streaming_preference_winrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The preference-comparison deriver run AS the ingest: events stream
    through a per-user ``applyInPandasWithState`` processor whose state is
    each user's LAST event (the Kafka Streams Processor-with-KeyValueStore
    shape — per-key order is the keyed topic's delivery contract, exactly
    the assumption the reference's processors make), emitting one
    (winner, loser) comparison per qualifying consecutive pair in append
    mode — a comparison is a fact, never revised. Emitted pairs land
    through the production append sink (executor-side parquet, no driver
    round-trip), and the win-rate matrix folds over the sink with the SAME
    ``win_counts`` aggregate and ``winrate_matrix`` post-math as the batch
    query; the result must hash-match ``preference_winrate_matrix``'s
    oracle verbatim.

    State bound: one 4-field row per active user key — bounded keyed state
    like the KTable; cross-batch pair carry (the boundary event living in
    the state store between micro-batches) is pinned in
    ``tests/test_round11b_ops.py`` with a 3-file time-split replay."""
    from ..streaming.stateful import preference_pair_emitter
    from .preference_queries import win_counts, winrate_matrix

    # Session-default state (r14 wave 5: backlog sizing measured 1.57x
    # WORSE): the per-row Python emitter needs the stateful stage's
    # parallelism, as in streaming_stateful_totals.
    emitted = run_topology(
        spark,
        sf_dir,
        lambda ev: preference_pair_emitter(normalize_event_ts(ev)),
        glob=_EVENTS,
    )
    return winrate_matrix(win_counts(emitted))


_ANN_SCREEN_ORACLE = """
WITH inj AS (
  SELECT vec_id + 1000000 AS new_id,
         list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT)) AS emb
  FROM embeddings WHERE vec_id % 20 = 0
),
ni AS (
  SELECT new_id, emb,
         sqrt((SELECT sum(CAST(emb[s.i] AS DOUBLE) * CAST(emb[s.i] AS DOUBLE))
               FROM (SELECT unnest(range(1, 65)) AS i) s)) AS nrm
  FROM inj
),
nc AS (
  SELECT vec_id, embedding,
         sqrt((SELECT sum(CAST(embedding[s.i] AS DOUBLE) * CAST(embedding[s.i] AS DOUBLE))
               FROM (SELECT unnest(range(1, 65)) AS i) s)) AS nrm
  FROM embeddings
),
scored AS (
  SELECT ni.new_id, nc.vec_id AS match_id,
         (SELECT sum(CAST(ni.emb[s.i] AS DOUBLE) * CAST(nc.embedding[s.i] AS DOUBLE))
          FROM (SELECT unnest(range(1, 65)) AS i) s) / (ni.nrm * nc.nrm) AS cos
  FROM ni JOIN nc ON true
)
SELECT new_id, match_id, round(cos, 3) AS cosine
FROM scored WHERE cos >= 0.95
"""


@register("streaming_ann_screen", oracle=_ANN_SCREEN_ORACLE)
def streaming_ann_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-ingest near-duplicate screen: newly-submitted vectors
    arrive as a STREAM (three staged micro-batches — every 20th corpus
    vector re-submitted scaled 1.5x under a shifted id, the
    ``dedup_embedding_cosine`` planted-pair construction) and each
    micro-batch probes the STATIC corpus through the hyperplane-LSH band
    index: sign-bit band keys computed map-side on the batch, equi-join
    against the precomputed corpus band table (the persisted ANN index a
    production embedding store maintains), exact cosine >= 0.95 verified
    on candidates only. The vector-family member of the per-ingest screen
    trio (winnowing text screen X143/X144, incremental jaccard screen).

    Recall is exact BY CONSTRUCTION, not probability: positive scaling
    preserves every hyperplane sign bit, so each planted pair collides in
    all 4 bands, while the corpus's natural pairs top out near cosine 0.5
    — so the brute-force oracle and the banded engine agree on the exact
    match set (same argument as the batch dedup query).

    Scale & state: the screen is STATELESS (winnowing-screen shape — a
    verdict depends only on the arriving vector and the static index), so
    there is no watermark and no state store growth; per-batch cost is
    |batch| x matched-bucket occupancy, never |batch| x |corpus|. At
    100 TB the corpus band table is the bucketed index a store co-partitions
    once and every ingest batch probes."""
    from pyspark.sql import functions as F

    from ..operators.vectors import cosine, hyperplane_band_keys, hyperplanes, with_norm
    from ..sources.parquet import load_table
    from .artifacts import ann_band_index, ann_corpus_vectors

    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planes = hyperplanes(dim=64, n=64, seed=7)
    # the persisted index side: memoized per corpus snapshot (artifacts.py),
    # so repeated ingest sessions probe a built-once band table + normed
    # vector side instead of rebuilding either (bench charges the build to
    # this query's reps; the memo is the production reuse story)
    corpus_bands = ann_band_index(spark, sf_dir)
    corpus_v = ann_corpus_vectors(spark, sf_dir)

    def screen_batch(batch_df: DataFrame) -> DataFrame:
        nb = hyperplane_band_keys(batch_df, planes, bands=4, id_col="new_id")
        cand = (
            nb.join(corpus_bands, ["band_id", "band_key"])
            .select("new_id", "match_id")
            .distinct()
        )
        nv = with_norm(batch_df).select(
            "new_id",
            F.col("embedding").alias("n_emb"),
            F.col("nrm").alias("n_nrm"),
        )
        cos = cosine(F.col("n_emb"), F.col("c_emb"), F.col("n_nrm"), F.col("c_nrm"))
        return (
            cand.join(nv, "new_id")
            .join(corpus_v, "match_id")
            .where(cos >= F.lit(0.95))
            .select("new_id", "match_id", F.round(cos, 3).alias("cosine"))
        )

    from ..operators.vectors import scaled_float32_injection

    arriving = (
        scaled_float32_injection(corpus, mod=20, shift=1000000, factor=1.5)
        .withColumnRenamed("vec_id", "new_id")
        .repartition(3)
    )
    return run_topology(
        spark, arriving, keys=["new_id", "match_id"], batch_fn=screen_batch
    )


from .relational_queries import DOCS_AUD_CTE as _DOCS_AUD_CTE
from .relational_queries import audited_documents as _audited_documents
from .corpus_queries import _ppm_ratio_sql as _ppm_split

_EXPECT_MONITOR_ORACLE = f"""
WITH {_DOCS_AUD_CTE},
d AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(lang) AS BIGINT) AS n_lang,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
         CAST(sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok
  FROM docs_aud
)
SELECT 'documents' AS table_name, 'lang_complete' AS constraint,
       {_ppm_split("n_lang", "n", "//")} AS observed_ppm,
       n_lang = n AS passed FROM d
UNION ALL
SELECT 'documents', 'doc_id_unique',
       {_ppm_split("n_ids", "n", "//")}, n_ids = n FROM d
UNION ALL
SELECT 'documents', 'n_chars_matches_text',
       {_ppm_split("n_len_ok", "n", "//")}, n_len_ok = n FROM d
"""


@register("streaming_expectation_monitor", oracle=_EXPECT_MONITOR_ORACLE)
def streaming_expectation_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous data-quality validation — the Deequ-analyzers-on-a-stream
    shape: the (deterministically corrupted, same injections as
    ``quality_expectation_suite``) documents table arrives as three
    micro-batches, and the documents-table constraints fold as ONE
    update-mode per-doc-id aggregate — (rows seen, non-null langs, length
    matches) per id — whose compacted changelog is simultaneously the
    uniqueness witness (its ROW COUNT is the exact distinct-id count,
    which streaming ``countDistinct`` cannot express but the KTable shape
    gives for free) and the counter source for completeness/consistency.
    The final three-row validation report must hash-match the batch
    suite's documents rows verbatim.

    State bound: one 3-counter row per distinct doc_id — the KTable
    contract (state tracks KEY cardinality, not event volume); the
    executor-side changelog sink and last-write-per-key compaction are the
    production path shared with every other update-mode query here.

    Scale: per micro-batch cost is one map-side-combining aggregate of the
    batch's rows; the report fold is over the compacted per-id table —
    at 100 TB this is the standard continuously-maintained quality
    dashboard, paying one aggregate per ingest batch instead of a full
    rescan per report."""
    from pyspark.sql import functions as F

    from ..sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )

    def per_id(stream: DataFrame) -> DataFrame:
        return stream.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("lang").cast("long").alias("n_lang"),
            F.sum(F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0))
            .cast("long")
            .alias("n_len_ok"),
        )

    # round 15 (the r14 wave-5 lever this topology missed): the per-id
    # aggregate is a DATA-GRAIN keyed state store, sized from the staged
    # backlog bytes; the heavy per-row work (length check) happens map-side
    # at scan parallelism before the exchange.
    compacted = run_topology(
        spark,
        _audited_documents(docs).repartition(3),
        per_id,
        keys=["doc_id"],
        state="backlog",
    )
    d = compacted.agg(
        F.sum("n_rows").cast("long").alias("n"),
        F.sum("n_lang").cast("long").alias("n_lang"),
        F.count(F.lit(1)).cast("long").alias("n_ids"),
        F.sum("n_len_ok").cast("long").alias("n_len_ok"),
    )

    def ppm(num: str, den: str) -> str:
        return _ppm_split(num, den, "DIV")

    return d.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("documents").alias("table_name"),
                    F.lit("lang_complete").alias("constraint"),
                    F.expr(ppm("n_lang", "n")).alias("observed_ppm"),
                    F.expr("n_lang = n").alias("passed"),
                ),
                F.struct(
                    F.lit("documents").alias("table_name"),
                    F.lit("doc_id_unique").alias("constraint"),
                    F.expr(ppm("n_ids", "n")).alias("observed_ppm"),
                    F.expr("n_ids = n").alias("passed"),
                ),
                F.struct(
                    F.lit("documents").alias("table_name"),
                    F.lit("n_chars_matches_text").alias("constraint"),
                    F.expr(ppm("n_len_ok", "n")).alias("observed_ppm"),
                    F.expr("n_len_ok = n").alias("passed"),
                ),
            )
        ).alias("r")
    ).select("r.*")


# ---------------------------------------------------------------------------
# streaming_boilerplate_screen — the CCNet scrub run AT INGEST
# ---------------------------------------------------------------------------

from .corpus_queries import (  # noqa: E402
    BOILER_DF_PERMILLE as _BP_PERMILLE,
    boilerplate_paras as _boiler_paras,
    boilerplate_paras_sql as _boiler_paras_sql,
)

_BP_SCREEN_ORACLE = f"""
WITH {_boiler_paras_sql("documents")},
src_docs AS (
  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
freq AS (
  SELECT source, md5(para) AS ph,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM documents_paras GROUP BY 1, 2
),
idx AS (
  SELECT f.source, f.ph, f.df, s.n_docs
  FROM freq f JOIN src_docs s USING (source)
),
newdocs AS (
  SELECT doc_id + 1000000 AS new_id, source, text
  FROM documents WHERE doc_id % 25 = 3 OR doc_id % 10 = 7
),
{_boiler_paras_sql("newdocs", id_col="new_id")},
probe AS (
  SELECT p.new_id, p.source, p.para,
         coalesce(f.df * 1000 >= {_BP_PERMILLE} * f.n_docs, FALSE) AS boiler
  FROM newdocs_paras p
  LEFT JOIN idx f ON f.source = p.source AND f.ph = md5(p.para)
),
agg AS (
  SELECT new_id, source,
         CAST(count(*) AS BIGINT) AS n_paras,
         CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         bool_or(boiler AND para LIKE 'cookie consent banner%')
           AS footer_caught,
         bool_or(NOT boiler AND para LIKE 'unique insight paragraph%')
           AS rare_clean
  FROM probe GROUP BY 1, 2
)
SELECT new_id, source, n_paras, n_boiler,
       {_ppm_split("n_boiler", "n_paras")} AS boiler_ppm,
       footer_caught, rare_clean
FROM agg
"""


@register("streaming_boilerplate_screen", oracle=_BP_SCREEN_ORACLE)
def streaming_boilerplate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X171 boilerplate scrub run AT INGEST: newly-crawled documents
    arrive as a STREAM (three staged micro-batches — the residue UNION
    ``doc_id % 25 = 3 OR doc_id % 10 = 7`` re-submitted under a shifted id;
    the +1e6 shift preserves both planted residues, so every arrival class
    is live: the ``% 25 = 3`` docs carry a footer AND a fresh rare
    paragraph, while the ``% 10 = 7`` docs are the FOOTER-FREE class —
    ``footer_caught`` must come back false for them, exercising both sides
    of the verdict at ingest (ADVICE r13: a pure ``% 5 = 3`` slice can
    never contain a ``% 10 = 7`` doc, leaving that branch vacuous)) and each
    micro-batch's paragraphs probe the STATIC per-source paragraph-frequency
    index (the ``boilerplate_index`` artifact — what a crawl pipeline
    materializes once per corpus snapshot). Per arriving doc: paragraph
    count, boilerplate hits, hit rate (exact ppm split), plus the two
    observability flags — the re-submitted footer must be CAUGHT by the
    index (footer_caught) while the doc's fresh rare paragraph (its text
    embeds the NEW id, so it cannot be in the index) must come through
    clean (rare_clean). The text-family member of the per-ingest screen
    trio next to the winnowing screen and the ANN screen (X166).

    Scale & state: STATELESS (the winnowing/ANN screen shape — a verdict
    depends only on the arriving doc and the static index), so no
    watermark and no state growth; the probe is an equi-join on
    (source, 16-byte digest) against the built-once pinned index — per
    batch cost is |batch paragraphs| x matched buckets, never corpus-sized.
    Unknown paragraphs (LEFT join miss) are clean by definition."""
    from pyspark.sql import functions as F

    from ..sources.parquet import load_table
    from .artifacts import boilerplate_index
    from .corpus_queries import _ppm_ratio_sql

    idx = boilerplate_index(spark, sf_dir)

    def screen_batch(batch_df: DataFrame) -> DataFrame:
        p = _boiler_paras(batch_df, id_col="new_id")
        probed = p.join(idx, ["source", "ph"], "left").withColumn(
            "boiler",
            F.coalesce(
                F.col("df") * F.lit(1000)
                >= F.lit(_BP_PERMILLE) * F.col("n_docs"),
                F.lit(False),
            ),
        )
        agg = probed.groupBy("new_id", "source").agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.when(F.col("boiler"), 1).otherwise(0))
            .cast("long")
            .alias("n_boiler"),
            F.max(
                F.expr("boiler AND para LIKE 'cookie consent banner%'")
            ).alias("footer_caught"),
            F.max(
                F.expr("NOT boiler AND para LIKE 'unique insight paragraph%'")
            ).alias("rare_clean"),
        )
        return agg.select(
            "new_id",
            "source",
            "n_paras",
            "n_boiler",
            F.expr(_ppm_ratio_sql("n_boiler", "n_paras", "DIV")).alias(
                "boiler_ppm"
            ),
            "footer_caught",
            "rare_clean",
        )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    arriving = (
        docs.where((F.col("doc_id") % 25 == 3) | (F.col("doc_id") % 10 == 7))
        .select((F.col("doc_id") + 1000000).alias("new_id"), "source", "text")
        .repartition(3)
    )
    return run_topology(spark, arriving, keys=["new_id"], batch_fn=screen_batch)


@register(
    "streaming_unigram_token_rate",
    oracle=REGISTRY["text_unigram_fertility"].oracle,
)
def streaming_unigram_token_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``streaming_bpe_token_rate``'s unigram twin — restores the house
    batch/streaming symmetry for the second corpus-trained tokenizer:
    documents arrive as a STREAM (three staged parquet files, one per
    micro-batch), each micro-batch explodes to words through the shared
    split and probes the STATIC unigram vocabulary map
    (``unigram_word_tokens`` — the frozen tokenizer shipped broadcast to
    every executor), folding per-source word/token/char totals into the
    streaming aggregation state. A pipeline evaluating BPE vs unigram-LM
    watches BOTH fertility monitors over the same ingest this way.

    State bound: keyed by ``source`` — |sources| rows of four longs BY
    CONSTRUCTION (the streaming_bpe_token_rate shape verbatim); no
    watermark, no eviction, nothing grows with the corpus. The stages are
    ``fertility_totals``/``fertility_report``, shared with the batch query,
    and the result must hash-match ``text_unigram_fertility``'s oracle —
    the proof the continuous path computes the identical table."""
    from ..sources.parquet import load_table
    from .artifacts import unigram_word_tokens
    from .corpus_queries import fertility_report, fertility_totals

    wt = unigram_word_tokens(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    # |sources|-row bounded state
    totals = run_topology(
        spark,
        docs.repartition(3),
        lambda stream: fertility_totals(stream, wt, "n_unigram_tokens"),
        keys=["source"],
        state=4096,
    )
    return fertility_report(totals, "n_unigram_tokens")


@register(
    "streaming_blocklist_screen",
    oracle=REGISTRY["text_blocklist_scrub"].oracle,
)
def streaming_blocklist_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 blocklist pass run AT INGEST — the text-cleaning family's
    fourth per-ingest screen (next to the boilerplate, winnowing, and ANN
    screens): documents arrive as a STREAM (three staged parquet files,
    one per micro-batch) and each micro-batch classifies against the
    static curated term set through the SAME shared frame transform the
    batch scrub uses (``blocklist_scrub_frame`` — one matcher definition,
    so batch and ingest can never drift), emitting the identical per-doc
    verdict row: word/hit/term counts, the sorted terms-hit list, and the
    any-hit-drops keep flag.

    Scale & state: STATELESS per-row classification (a verdict depends
    only on the arriving doc and the literal term set — no index, no
    watermark, no state growth); per-batch cost is |batch| x |terms|
    word-grain HOF matching, entirely map-side. The result must
    hash-match the batch scrub's oracle verbatim — the proof the
    continuous path computes the identical table."""
    from ..sources.parquet import load_table
    from .corpus_queries import blocklist_scrub_frame

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return run_topology(
        spark,
        docs.repartition(3),
        keys=["doc_id"],
        batch_fn=blocklist_scrub_frame,
    )


# ---------------------------------------------------------------------------
# streaming_mixture_monitor — is the ingest delivering the learned mix?
# ---------------------------------------------------------------------------

from .pipeline_queries import _DOREMI_WITH as _DM_WITH  # noqa: E402
from .corpus_queries import _ppm_ratio_sql as _dm_ppm  # noqa: E402

_MIX_MON_ORACLE = f"""
WITH {_DM_WITH},
cnt AS MATERIALIZED (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS total FROM cnt),
obs AS (
  SELECT c.source, i.w_ppm AS target_ppm, c.n_docs, c.n_toks,
         {_dm_ppm("c.n_toks", "t.total")} AS observed_ppm
  FROM cnt c CROSS JOIN tot t JOIN it5 i ON i.source = c.source
)
SELECT source, target_ppm, n_docs, n_toks, observed_ppm,
       observed_ppm - target_ppm AS deviation_ppm,
       observed_ppm > target_ppm AS over_served
FROM obs
"""


@register("streaming_mixture_monitor", oracle=_MIX_MON_ORACLE)
def streaming_mixture_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixing family's streaming twin — the gap every other operator
    family had already closed: a pipeline that LEARNED its target mixture
    (corpus_mixture_doremi) must watch whether the ingest actually
    delivers it. Documents arrive as a STREAM (three staged micro-batches)
    and per-source doc/token totals fold into the streaming aggregation
    state; the compacted totals meet the STATIC learned target weights
    (broadcast |sources|-row model state — the frozen mixture shipped like
    a frozen tokenizer) and the report is per source: target ppm, observed
    token-share ppm (exact split), the signed deviation, and the
    over/under-served flag — what an operator pages on when a source's
    crawler stalls and the mix drifts off target.

    State bound: keyed by ``source`` — |sources| rows of two longs BY
    CONSTRUCTION (the streaming_bpe_token_rate shape); no watermark, no
    eviction. The post-compaction share math divides by the total over
    the |sources| rows (bounded model state, the corpus_domain_profile
    discipline). The oracle replays the full learned-weight trajectory
    plus the share computation, so the monitor's thresholds are
    oracle-checked, not advisory."""
    from pyspark.sql import functions as F

    from ..operators import with_totals
    from ..operators.doremi import MAX_DOREMI_DOMAINS, doremi_fit
    from ..sources.parquet import load_table
    from .pipeline_queries import _doremi_domain_rows

    weights = doremi_fit(_doremi_domain_rows(spark, sf_dir))
    targets = spark.createDataFrame(
        sorted(weights.items()), schema="source string, target_ppm long"
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    # State keyed by source is |sources|-row bounded BY CONSTRUCTION
    # (doremi_fit refuses past MAX_DOREMI_DOMAINS).
    totals = run_topology(
        spark,
        docs.repartition(3),
        lambda stream: stream.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("n_toks"),
        ),
        keys=["source"],
        state=MAX_DOREMI_DOMAINS,
    )

    t = with_totals(
        totals.join(F.broadcast(targets), "source"),
        total=F.sum("n_toks").cast("long"),
    )
    obs = F.expr(_dm_ppm("n_toks", "total", "DIV"))
    return t.select(
        "source",
        "target_ppm",
        "n_docs",
        "n_toks",
        obs.alias("observed_ppm"),
        (obs - F.col("target_ppm")).alias("deviation_ppm"),
        (obs > F.col("target_ppm")).alias("over_served"),
    )


# ---------------------------------------------------------------------------
# streaming_decontaminate_screen — benchmark-overlap verdicts AT INGEST
# ---------------------------------------------------------------------------

from .pipeline_queries import (  # noqa: E402
    _CONTAM_MOD as _DC_MOD,
    _contam_bench_from_grams,
    _contam_grams,
    _contam_hits_sql,
    _contam_overlap,
)

_DECON_SCREEN_ORACLE = f"""
WITH {_contam_hits_sql()}
SELECT d.doc_id, d.source,
       CAST(coalesce(h.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits * 2 >= h.n_grams, FALSE) AS drop_flag
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % {_DC_MOD} <> 0
"""


@register("streaming_decontaminate_screen", oracle=_DECON_SCREEN_ORACLE)
def streaming_decontaminate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination run AT INGEST — the missing twin the r13
    verdict named: every other cleaning/dedup family member already screens
    arriving docs per micro-batch (blocklist, boilerplate, winnowing, ANN);
    this closes benchmark overlap, the one verdict a crawl ingest could not
    yet issue continuously. The training docs (``doc_id % 97 <> 0``) arrive
    as a STREAM (three staged parquet files, one per micro-batch); each
    micro-batch shingles its own docs through the SHARED gram derivation
    (``_contam_grams``) and probes the STATIC broadcast benchmark 5-gram
    set through the SHARED overlap aggregate (``_contam_overlap`` — the
    check's and the audit's one overlap definition, so ingest can never
    disagree with the release review about what overlaps), emitting the
    per-doc verdict: gram/hit counts and the float-free ``n_hits * 2 >=
    n_grams`` drop flag. Docs too short to shingle have no gram rows and
    are KEPT by definition (LEFT join + FALSE coalesce — the audit's rule,
    mirrored in the oracle).

    Scale & state: STATELESS (the blocklist-screen shape — a verdict
    depends only on the arriving doc and the static bench index); no
    watermark, no state growth. The bench set is the eval suite — tiny,
    built once per corpus snapshot (localCheckpoint-pinned here), and
    broadcast into every micro-batch's probe; per-batch cost is
    |batch grams| map-side + one batch-local doc_id aggregate."""
    from pyspark.sql import functions as F

    from ..sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # the static index: benchmark docs' distinct grams, built once.
    # (round 15 examined and reverted: rebalancing the ~50-doc bench build
    # and the per-batch probe shuffles the raw TEXT payload for hundreds of
    # docs of compute — measured 1.33-1.64x WORSE across 3 interleaved
    # rounds; the corpus-sized batch twin _contam_hits keeps its rebalance)
    bench = _contam_bench_from_grams(
        _contam_grams(docs.where(F.col("doc_id") % _DC_MOD == 0))
    ).localCheckpoint(eager=True)

    def screen_batch(batch_df: DataFrame) -> DataFrame:
        ov = _contam_overlap(
            _contam_grams(batch_df.select("doc_id", "text")), bench
        )
        return batch_df.select("doc_id", "source").join(
            ov, "doc_id", "left"
        ).select(
            "doc_id",
            "source",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.coalesce(
                F.col("n_hits") * 2 >= F.col("n_grams"), F.lit(False)
            ).alias("drop_flag"),
        )

    return run_topology(
        spark,
        docs.where(F.col("doc_id") % _DC_MOD != 0).repartition(3),
        keys=["doc_id"],
        batch_fn=screen_batch,
    )


# ---------------------------------------------------------------------------
# streaming_mixture_sampler — the learned mix APPLIED at ingest
# ---------------------------------------------------------------------------

from .pipeline_queries import smd_apply, smd_rates_df  # noqa: E402


@register(
    "streaming_mixture_sampler", oracle=REGISTRY["sample_mixture_doremi"].oracle
)
def streaming_mixture_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last DoReMi gap closed (r13 verdict task 3): the mixing family
    now derives its weights (corpus_mixture_doremi), turns them into keep
    rates and applies them in batch (sample_mixture_doremi), WATCHES the
    delivered mix (streaming_mixture_monitor) — and here APPLIES the
    learned mix at ingest. Documents arrive as a STREAM (three staged
    micro-batches) and each micro-batch passes through the SAME
    deterministic keep gate as the batch sampler (``smd_apply`` — one
    broadcast rate-table join + md5 permille bucket + filter, so batch and
    ingest can never disagree on which doc survives); the frozen rate
    table comes from the SAME derivation (``smd_rates_df``). Shares the
    batch sampler's oracle VERBATIM — the proof the continuous path keeps
    the identical sample.

    Scale & state: STATELESS per-row gating (the blocklist-screen shape —
    a verdict depends only on the arriving doc's id/source and the static
    |sources|-row broadcast rate table); no watermark, no state growth,
    zero per-batch exchanges. The rate derivation's LM aggregate is
    charged once at rate-table build (the doremi/BT collect shape)."""
    from ..sources.parquet import load_table

    rates_df = smd_rates_df(spark, sf_dir).localCheckpoint(eager=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return run_topology(
        spark,
        docs.repartition(3),
        keys=["doc_id"],
        batch_fn=lambda b: smd_apply(b, rates_df),
    )


# ---------------------------------------------------------------------------
# streaming_url_dedup_screen — URL-grain dedup AT INGEST (bounded state)
# ---------------------------------------------------------------------------

from .corpus_queries import (  # noqa: E402
    url_canonicalize,
    url_canonicalize_sql,
    url_crawl_frame,
    url_crawl_frame_sql,
    URL_RECRAWL_SHIFT,
)

_URL_SCREEN_ORACLE = f"""
WITH {url_crawl_frame_sql("documents")},
c AS (
  SELECT doc_id, domain, {url_canonicalize_sql("url")} AS curl
  FROM documents_urls
)
SELECT min(doc_id) AS doc_id, min(domain) AS domain, curl AS url
FROM c GROUP BY curl
"""


@register("streaming_url_dedup_screen", oracle=_URL_SCREEN_ORACLE)
def streaming_url_dedup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl's FIRST dedup stage run AT INGEST: fetched URLs arrive as
    a STREAM (originals in two early micro-batches, the re-crawl slice in
    a later third — the arrival order a crawl frontier actually produces),
    each is canonicalized through the SAME shared ``url_canonicalize``
    the batch pass uses (one canonicalizer, drift impossible), and
    ``dropDuplicatesWithinWatermark`` on the 16-byte canonical digest
    admits only first sightings — re-fetches of an already-crawled page
    are dropped at the door instead of costing a full content pass.
    The surviving append stream must equal the batch keeper set exactly
    (min doc_id per canonical URL — originals arrive first, so
    first-arrival == earliest-fetch by construction, and the oracle
    checks precisely that equivalence).

    State story (the streaming_dedup_events shape at URL grain): per-key
    state lives only until the watermark passes the first sighting —
    bounded by the crawl window's URL rate, NOT by all URLs ever crawled
    (the unbounded-dropDuplicates failure mode). Re-fetches inside the
    window drop against held state; re-fetches after eviction are a
    frontier re-crawl decision, not dedup's."""
    from pyspark.sql import functions as F

    from ..sources.parquet import load_table
    from ..streaming.transforms import streaming_dedup_within_watermark

    docs = load_table(spark, sf_dir, "documents")
    frame = url_crawl_frame(docs).select(
        "doc_id",
        "domain",
        "url",
        F.when(
            F.col("doc_id") >= URL_RECRAWL_SHIFT,
            F.lit("2024-01-01 00:05:00"),
        )
        .otherwise(F.lit("2024-01-01 00:00:00"))
        .cast("timestamp")
        .alias("fetch_ts"),
    )
    # originals (two files) land before the re-crawls (one file)
    crawl = [
        frame.where(F.col("doc_id") < URL_RECRAWL_SHIFT).repartition(2),
        frame.where(F.col("doc_id") >= URL_RECRAWL_SHIFT).repartition(1),
    ]
    return run_topology(
        spark,
        crawl,
        lambda stream: streaming_dedup_within_watermark(
            stream.withColumn("uh", F.md5(url_canonicalize(F.col("url")))),
            keys=["uh"],
            ts_col="fetch_ts",
        ).select("doc_id", "domain", url_canonicalize(F.col("url")).alias("url")),
        state="backlog",
    )


# ---------------------------------------------------------------------------
# streaming_classifier_monitor — the model-eval family's ingest twin
# ---------------------------------------------------------------------------

from .pipeline_queries import (  # noqa: E402
    confusion_cells,
    confusion_flags,
    confusion_report,
)


@register(
    "streaming_classifier_monitor",
    oracle=REGISTRY["classifier_confusion_eval"].oracle,
)
def streaming_classifier_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-eval family's streaming twin — the last operator family
    without an ingest-side member: a deployed quality filter must be
    GRADED continuously, not just at release (silent filter drift on a
    live crawl is invisible until the mix is already skewed). Documents
    arrive as a STREAM (three staged micro-batches); each is scored by
    the SAME shared flag frame the batch eval uses (``confusion_flags`` —
    one scoring definition, so batch and ingest can never drift) inside
    the streaming plan (the 5-row model table is a broadcast
    stream-static join), and the per-language confusion cells fold into
    update-mode aggregation state; the compacted cells pass through the
    SAME report tail (``confusion_report``) to per-language
    precision/recall/F1. Shares the batch oracle VERBATIM — the proof the
    continuous grade equals the release grade.

    State bound: keyed by ``lang`` — |langs| rows of four longs BY
    CONSTRUCTION (the streaming_mixture_monitor shape); no watermark, no
    eviction, nothing grows with corpus size."""
    from ..sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    # |langs|-row bounded state (the docstring's bound)
    cells = run_topology(
        spark,
        docs.repartition(3),
        lambda stream: confusion_cells(confusion_flags(spark, stream)),
        keys=["lang"],
        state=4096,
    )
    return confusion_report(cells)


# ---------------------------------------------------------------------------
# streaming_gopher_screen — the named rule gate run AT INGEST
# ---------------------------------------------------------------------------

from .corpus_queries import gopher_rules_frame  # noqa: E402


@register("streaming_gopher_screen", oracle=REGISTRY["text_gopher_quality"].oracle)
def streaming_gopher_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule gate run AT INGEST — the text-cleaning family's
    SIXTH per-ingest screen (boilerplate, winnowing, ANN, blocklist,
    decontamination, now the named hard-threshold ruleset): documents
    arrive as a STREAM (three staged micro-batches) and each classifies
    through the SAME shared rule evaluation the batch gate uses
    (``gopher_rules_frame`` — one ruleset definition, so batch and ingest
    can never disagree on which rule a doc fails first), emitting the
    identical per-doc verdict row: the five features, five rule flags,
    keep, and the first-failed rule name.

    Scale & state: STATELESS per-row classification (a verdict depends
    only on the arriving doc and the literal thresholds — no index, no
    watermark, no state growth; the blocklist-screen shape); per-batch
    cost is per-row HOF work, entirely map-side. Shares the batch gate's
    oracle VERBATIM and a parity test pins the compacted verdicts equal
    to the batch table row-for-row."""
    from ..sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    return run_topology(
        spark,
        docs.repartition(3),
        keys=["doc_id"],
        batch_fn=gopher_rules_frame,
    )


# ---------------------------------------------------------------------------
# streaming_robots_screen — robots compliance verdicts AT INGEST
# ---------------------------------------------------------------------------

from .corpus_queries import robots_rollup, robots_verdicts  # noqa: E402


@register(
    "streaming_robots_screen", oracle=REGISTRY["crawl_robots_compliance"].oracle
)
def streaming_robots_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robots.txt compliance audit run AT INGEST — the crawl family's
    continuous policy gate (a compliant crawler must refuse a disallowed
    fetch when it ARRIVES, not discover it in a quarterly audit): fetches
    arrive as a STREAM (three staged micro-batches of the shared crawl
    log) and each micro-batch's verdicts derive through the SAME shared
    longest-prefix-wins evaluation the batch audit uses
    (``robots_verdicts`` — one precedence definition, so batch and ingest
    can never disagree on whether an Allow outranks its Disallow); the
    per-fetch verdict log lands keyed by doc_id and the compacted log
    rolls up through the SAME report tail (``robots_rollup``) to the
    per-domain compliance table. Shares the batch oracle VERBATIM.

    Scale & state: STATELESS per-fetch classification (verdicts depend
    only on the arriving fetch and the broadcast rule table — the
    longest-match rank is per-doc, and every doc arrives in exactly one
    micro-batch; no watermark, no cross-batch state growth — the
    blocklist-screen shape); the changelog is the verdict log a
    compliance officer replays, the rollup |domains|-sized."""
    from ..sources.parquet import load_table

    winner = run_topology(
        spark,
        url_crawl_frame(load_table(spark, sf_dir, "documents")).repartition(3),
        keys=["doc_id"],
        batch_fn=lambda b: robots_verdicts(spark, b),
    )
    return robots_rollup(winner)


# ---------------------------------------------------------------------------
# streaming_roc_monitor — continuous ranking power, <=1000-cell state
# ---------------------------------------------------------------------------

from .pipeline_queries import _clf_cells_frame, _roc_report  # noqa: E402


@register("streaming_roc_monitor", oracle=REGISTRY["classifier_roc_auc"].oracle)
def streaming_roc_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROC/AUC gate maintained AS STREAMING STATE — the
    threshold-free companion to ``streaming_classifier_monitor`` (that
    one watches the 2x2 at the deployed threshold; this one watches
    whether the model's SCORES still rank good docs above bad at all —
    the earlier drift signal, since ranking power decays before any fixed
    threshold's confusion does): arriving documents score through the
    SAME shared frame (``_clf_scored_frame``/``_clf_cells_frame`` — the
    calibration curve's scoring and the ROC gate's quantization verbatim)
    and fold into the <=1000-cell margin histogram as update-mode
    aggregation state; the compacted cells pass through the SAME
    Mann-Whitney report tail (``_roc_report``). Shares the batch gate's
    oracle VERBATIM.

    State bound: the cell grid IS the aggregation key space, so state is
    <=1000 rows of two longs BY CONSTRUCTION no matter how many documents
    flow through (the streaming_cms_sketch discipline — the reason a
    quantized histogram, not a corpus-sized rank sort, is the streaming
    AUC primitive); no watermark, nothing evicted because nothing grows."""
    from ..sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # The <=1000-cell grid IS the key space (the docstring's bound).
    cells = run_topology(
        spark,
        docs.repartition(3),
        lambda stream: _clf_cells_frame(spark, stream),
        keys=["cell"],
        state=1000,
    )
    return _roc_report(cells)
