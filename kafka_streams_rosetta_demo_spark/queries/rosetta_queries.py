"""Reference-parity queries (SURVEY.md §2.1-§2.6 inventory).

Each query probes one (or one cluster of) reference operators on the
testdata role mapping; the oracle encodes the *intended* reference semantics
(SURVEY.md §2.4 ⚠ — the as-written adder is degenerate).

The CTE shared by most oracles mirrors :func:`..sources.parquet.rosetta_calls`
/ :func:`..sources.parquet.rosetta_customers` exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.rekey import filter_not_null, rekey, select_key
from ..plans.rosetta import calls_aggregation_plan, enriched_calls_plan
from ..sources.parquet import load_table, rosetta_calls, rosetta_customers
from . import register

# Shared oracle CTEs — the DuckDB twin of the testdata role mapping.
# date_trunc('microseconds', ...) states the precision contract explicitly:
# events.parquet is TIMESTAMP(NANOS) and the Spark loader truncates to
# microseconds (sources/parquet.py), so the oracle must compare at the same
# precision instead of relying on the generator happening to align.
CALLS_CTE = """
calls AS (
    SELECT CAST(user_id AS VARCHAR) AS id_telef_origen,
           CAST(floor(value) AS BIGINT) AS duracion_origen,
           date_trunc('microseconds', ts) AS event_ts
    FROM events
)
"""

CUSTOMERS_CTE = """
customers AS (
    SELECT concat(CAST(c_custkey AS VARCHAR), '_', c_name) AS TELEF_Y_DOC,
           CAST(c_custkey AS VARCHAR) AS TELEFONO,
           c_name AS DOC_CLIENTE,
           CAST(c_nationkey AS INTEGER) AS CLIENTE_ORANGE,
           CAST(floor(c_acctbal) AS INTEGER) AS DAYS_EXCLIENTE,
           c_mktsegment AS OPERADOR_ACTUAL,
           CASE WHEN c_acctbal < 1000 THEN 'HIGH'
                WHEN c_acctbal < 5000 THEN 'MEDIUM'
                ELSE 'LOW' END AS RIESGO
    FROM customer
    WHERE c_acctbal >= 0
)
"""

CALL_AGG_CTE = f"""
{CALLS_CTE.rstrip().rstrip(',')},
call_agg AS (
    SELECT date_trunc('hour', event_ts) AS window_start,
           date_trunc('hour', event_ts) + INTERVAL 1 HOUR AS window_end,
           id_telef_origen,
           count(*) AS calls_count,
           max(duracion_origen) AS max_duracion_origen,
           CAST(sum(duracion_origen) AS BIGINT) AS total_duracion_origen,
           CAST(sum(duracion_origen) AS BIGINT) // count(*) AS avg_duracion_origen
    FROM calls
    GROUP BY 1, 2, 3
)
"""


@register(
    "rosetta_select_key",
    oracle=f"""
WITH {CALLS_CTE.strip()}
SELECT id_telef_origen AS key, id_telef_origen, duracion_origen, event_ts
FROM calls
""",
)
def rosetta_select_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: selectKey — rekey the CALLS stream by ``id_telef_origen``
    (``CallsAggregationApp.java:54``)."""
    return select_key(rosetta_calls(spark, sf_dir), "id_telef_origen")


@register(
    "rosetta_rekey_customers",
    oracle=f"""
WITH {CUSTOMERS_CTE.strip()}
SELECT TELEFONO AS key, TELEF_Y_DOC, TELEFONO, DOC_CLIENTE, CLIENTE_ORANGE,
       DAYS_EXCLIENTE, OPERADOR_ACTUAL, RIESGO
FROM customers
""",
)
def rosetta_rekey_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: map-rekey the customer table by TELEFONO
    (``CallsEnrichedApp.java:54``)."""
    return rekey(rosetta_customers(spark, sf_dir), "TELEFONO")


@register(
    "rosetta_filter_not_null",
    oracle="""
SELECT event_id, user_id, value
FROM events
WHERE value IS NOT NULL
""",
)
def rosetta_filter_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: drop null-valued records (``CallsAggregationApp.java:82``)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return filter_not_null(ev, "value")


@register(
    "rosetta_calls_window_agg",
    oracle=f"""
WITH {CALL_AGG_CTE.strip()}
SELECT * FROM call_agg
""",
)
def rosetta_calls_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4: pipeline 1 — 1h tumbling window count/max/sum/integer-avg per
    caller (``CallsAggregationApp.java:53-85``, intended semantics)."""
    return calls_aggregation_plan(spark, sf_dir)


@register(
    "rosetta_enriched",
    oracle=f"""
WITH {CALL_AGG_CTE.strip()},
{CUSTOMERS_CTE.strip()}
SELECT a.id_telef_origen,
       strftime(a.window_start, '%d/%m/%Y %H:%M') AS window_start_ts,
       strftime(a.window_end, '%d/%m/%Y %H:%M') AS window_end_ts,
       a.calls_count,
       a.max_duracion_origen,
       a.total_duracion_origen,
       a.avg_duracion_origen,
       CASE WHEN c.TELEFONO IS NULL THEN 'Unknown' ELSE c.DOC_CLIENTE END AS doc_cliente,
       CASE WHEN c.TELEFONO IS NULL THEN 0 ELSE c.CLIENTE_ORANGE END AS cliente_orange,
       CASE WHEN c.TELEFONO IS NULL THEN 0 ELSE c.DAYS_EXCLIENTE END AS days_excliente,
       CASE WHEN c.TELEFONO IS NULL THEN 'Unknown' ELSE c.OPERADOR_ACTUAL END AS operador_actual,
       CASE WHEN c.TELEFONO IS NULL THEN 'Unknown' ELSE c.RIESGO END AS riesgo
FROM call_agg a
LEFT JOIN customers c ON a.id_telef_origen = c.TELEFONO
""",
)
def rosetta_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: pipelines 1+2 fused — J1 stream-table left join + P4
    projection + F1-F3 scalars (``CallsEnrichedApp.java:45-68``,
    ``CallCustomerJoiner.java:15-41``)."""
    return enriched_calls_plan(spark, sf_dir)


@register(
    "rosetta_date_format",
    oracle="""
SELECT event_id,
       strftime(ts, '%d/%m/%Y %H:%M') AS fmt_ts,
       strftime(ts + INTERVAL 1 HOUR, '%d/%m/%Y %H:%M') AS fmt_ts_plus_1h
FROM events
""",
)
def rosetta_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: SimpleDateFormat-style rendering + add-hours
    (``CallCustomerJoiner.java:32-40``)."""
    from ..functions.datetime_fmt import ROSETTA_TS_FORMAT

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_format("ts", ROSETTA_TS_FORMAT).alias("fmt_ts"),
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 1 HOUR"), ROSETTA_TS_FORMAT
        ).alias("fmt_ts_plus_1h"),
    )


@register(
    "rosetta_null_defaults",
    oracle=f"""
WITH {CUSTOMERS_CTE.strip()},
all_keys AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS TELEFONO_ALL FROM customer)
SELECT k.TELEFONO_ALL AS telefono,
       coalesce(c.DOC_CLIENTE, 'Unknown') AS doc_cliente,
       coalesce(c.CLIENTE_ORANGE, 0) AS cliente_orange,
       coalesce(c.OPERADOR_ACTUAL, 'Unknown') AS operador_actual
FROM all_keys k LEFT JOIN customers c ON k.TELEFONO_ALL = c.TELEFONO
""",
)
def rosetta_null_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: null-coalescing defaults on the left join's null side
    (``CallCustomerJoiner.java:24-28``) — the case the reference never
    tests."""
    all_keys = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").cast("string").alias("TELEFONO_ALL"))
        .distinct()
    )
    customers = rosetta_customers(spark, sf_dir)
    joined = all_keys.join(
        F.broadcast(customers),
        all_keys["TELEFONO_ALL"] == customers["TELEFONO"],
        "left",
    )
    return joined.select(
        F.col("TELEFONO_ALL").alias("telefono"),
        F.coalesce("DOC_CLIENTE", F.lit("Unknown")).alias("doc_cliente"),
        F.coalesce("CLIENTE_ORANGE", F.lit(0)).alias("cliente_orange"),
        F.coalesce("OPERADOR_ACTUAL", F.lit("Unknown")).alias("operador_actual"),
    )


# ---------------------------------------------------------------------------
# S2: KTable latest-per-key, batch-checkable
# ---------------------------------------------------------------------------


# The KTable's key, order and value columns — one spec for the batch table
# and its streaming twin (streaming_ktable_latest).
KTABLE_LATEST = dict(
    key="user_id",
    ts_col="ts",
    seq_col="event_id",
    value_cols=["ts", "event_id", "event_type", "value"],
)


@register(
    "rosetta_ktable_latest",
    oracle="""
SELECT user_id,
       date_trunc('microseconds', ts) AS last_ts,
       event_id   AS last_event_id,
       event_type AS last_event_type,
       value      AS last_value
FROM events
QUALIFY row_number() OVER (
    PARTITION BY user_id
    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC
) = 1
""",
)
def rosetta_ktable_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: ``builder.table(topic)`` — latest-value-per-key state
    (``CallsEnrichedApp.java:58``), the one genuinely stateful reference
    operator, expressed as ``max_by(struct(row), struct(ts, event_id))``.

    event_id stands in for the Kafka offset as the equal-timestamp
    tiebreaker. Scale: an aggregate (partial combine before the key shuffle),
    NOT a row_number window — the oracle uses the window form only because
    DuckDB's arg_max cannot take a struct ordering. The identical expression
    is the streaming KTable state in update mode (streaming/ktable tests).
    """
    from ..operators.state import latest_per_key

    return latest_per_key(load_table(spark, sf_dir, "events"), **KTABLE_LATEST)


# ---------------------------------------------------------------------------
# S5: deserialization error policy
# ---------------------------------------------------------------------------


@register(
    "rosetta_deser_policy",
    oracle="""
WITH raw AS (
  SELECT event_type,
         CASE WHEN event_id % 37 = 0 THEN 'XX' || props ELSE props END AS payload
  FROM events
),
parsed AS (
  SELECT event_type,
         CASE WHEN json_valid(payload)
              THEN TRY_CAST(json_extract_string(payload, '$.k') AS INTEGER)
         END AS k
  FROM raw
)
SELECT event_type,
       count(*)                          AS n_records,
       count(k)                          AS n_parsed,
       count(*) - count(k)               AS n_dropped,
       CAST(sum(k) AS BIGINT)            AS sum_k
FROM parsed
GROUP BY event_type
""",
)
def rosetta_deser_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: ``LogAndContinueExceptionHandler`` (``CallsAggregationApp.java:
    34,100``) — undecodable records are skipped and *counted*, never fatal.

    Batch-expressible form: parse the JSON payload permissively
    (``from_json`` → null field on corrupt input), drop-and-count instead of
    failing. Corruption is injected deterministically (every 37th event gets
    a leading 'XX') on both engine and oracle, since the testdata's props are
    all well-formed. The drop count is the observable the reference exposes
    via its skipped-records metric. Scale: per-row parse + one partial-agg
    shuffle on event_type.
    """
    ev = load_table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 37 == 0, F.concat(F.lit("XX"), F.col("props"))
    ).otherwise(F.col("props"))
    k = F.from_json(payload, "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.count("k").alias("n_parsed"),
            (F.count(F.lit(1)) - F.count("k")).alias("n_dropped"),
            F.sum("k").alias("sum_k"),
        )
    )


# ---------------------------------------------------------------------------
# S3/S5: Confluent Schema-Registry wire framing, batch-checkable
# ---------------------------------------------------------------------------


@register(
    "kafka_wire_framing",
    oracle="""
SELECT event_type,
       count(*) AS n_records,
       count(CASE WHEN event_id % 41 <> 0 THEN 1 END)            AS n_decoded,
       count(CASE WHEN event_id % 41 = 0 THEN 1 END)             AS n_dropped,
       CAST(sum(CASE WHEN event_id % 41 <> 0 THEN event_id END) AS BIGINT)
         AS sum_event_id
FROM events
GROUP BY event_type
""",
)
def kafka_wire_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S5: the reference's Confluent serdes frame every value as
    ``0x00 magic + int32 schema id + body`` (``CallsEnrichedApp.java:70-79``,
    ``CallsAggregationApp.java:31,101``). Round-trip each event through the
    framed serde; mangle the magic byte of every 41st record so the header
    check — not the body parse — rejects it, and count drops per event_type
    like the skipped-records metric.

    Scale: encode/decode are per-row JVM expressions (concat/substring/
    to_json/from_json — no Python), then one partial-agg shuffle on
    event_type.
    """
    return wire_framing_counters(load_table(spark, sf_dir, "events"))


def wire_framing_counters(ev: DataFrame) -> DataFrame:
    """``kafka_wire_framing``'s per-event-type drop counters over an events
    frame — one stage for the batch query and its streaming twin
    (``streaming_wire_roundtrip``): JSON values framed and unframed through
    the Confluent wire format, every 41st magic byte mangled in flight."""
    from ..streaming.kafka_io import KafkaTopicSpec

    spec = KafkaTopicSpec(
        topic="EVENTS_WIRE",
        value_schema=T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
        serde="json",  # deterministic: avro availability must not change results
        wire_format="confluent",
        schema_id=7,
    )
    framed = spec.encode_value(F.struct("event_id", "value"))
    on_wire = F.when(
        F.col("event_id") % 41 == 0,
        F.concat(F.lit(b"\xff"), F.substring(framed, 2, 2147483647)),
    ).otherwise(framed)
    decoded = spec.decode_value(on_wire)
    return (
        ev.select("event_type", decoded.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.count("v.event_id").alias("n_decoded"),
            (F.count(F.lit(1)) - F.count("v.event_id")).alias("n_dropped"),
            F.sum("v.event_id").alias("sum_event_id"),
        )
    )


@register(
    "kafka_avro_roundtrip",
    oracle="""
SELECT event_type,
       count(*) AS n_records,
       count(CASE WHEN event_id % 43 <> 0 THEN 1 END)            AS n_decoded,
       count(CASE WHEN event_id % 43 = 0 THEN 1 END)             AS n_dropped,
       CAST(sum(CASE WHEN event_id % 43 <> 0 THEN event_id END) AS BIGINT)
         AS sum_event_id,
       CAST(sum(CASE WHEN event_id % 43 <> 0
                     THEN CAST(floor(value * 1000) AS BIGINT) END) AS BIGINT)
         AS sum_value_milli
FROM events
GROUP BY event_type
""",
)
def kafka_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S5 with genuine **Avro** wire bytes: every event round-trips
    through the Confluent-framed AVRO value serde — the reference's actual
    on-wire encoding (``SpecificAvroSerde``, ``CallsAggregationApp.java:
    33,40-41``) — via the columnar Python Avro 1.12 codec (``streaming/
    avro_codec.compile_flat``, byte-level cross-validated against the JVM's
    own Avro in ``tests/test_avro_codec.py``). Every 43rd record's *body* is
    truncated in flight (header left intact), so the Avro decoder itself —
    not the wire-header check — must detect the corruption (truncated
    varint/double → null row → S5 drop counter).

    Scale: the codec runs as Arrow UDFs, NumPy kernels over each Arrow
    batch — the documented jar-less fallback; with spark-avro on the
    classpath the spec's ``auto`` serde selects the JVM ``from_avro``/
    ``to_avro`` expressions instead and the topology is unchanged. One
    partial-agg shuffle on event_type.
    """
    return avro_roundtrip_counters(load_table(spark, sf_dir, "events"))


def avro_roundtrip_counters(ev: DataFrame) -> DataFrame:
    """``kafka_avro_roundtrip``'s per-event-type drop counters over an
    events frame — one stage for the batch query and its streaming twin
    (``streaming_avro_roundtrip``): Avro values framed and unframed through
    the Confluent wire format, every 43rd body truncated in flight."""
    from ..streaming.kafka_io import KafkaTopicSpec

    spec = KafkaTopicSpec(
        topic="EVENTS_AVRO",
        value_schema=T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("value", T.DoubleType()),
            ]
        ),
        serde="avro_py",  # deterministic here; "auto" would pick the JVM
        # expressions on clusters that ship spark-avro
        wire_format="confluent",
        schema_id=11,
    )
    framed = spec.encode_value(F.struct("event_id", "value"))
    # Body is always >= 9 bytes (varint long + 8-byte double), so keeping
    # only 3 body bytes guarantees a truncation the decoder must reject.
    on_wire = F.when(
        F.col("event_id") % 43 == 0, F.substring(framed, 1, 8)
    ).otherwise(framed)
    decoded = spec.decode_value(on_wire)
    return (
        ev.select("event_type", decoded.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.count("v.event_id").alias("n_decoded"),
            (F.count(F.lit(1)) - F.count("v.event_id")).alias("n_dropped"),
            F.sum("v.event_id").alias("sum_event_id"),
            # Integer micro-units: the decoded double is bit-exact (IEEE754
            # through the codec), but a float SUM is order-dependent across
            # engines — floor-to-milli before summing is order-free and
            # still proves the double survived the roundtrip.
            F.sum(F.floor(F.col("v.value") * 1000).cast("long")).alias(
                "sum_value_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Session + sliding windows (streaming parity breadth, batch-checkable —
# SURVEY §2.8/§7-4; the reference is tumbling-only, Spark adds both natively)
# ---------------------------------------------------------------------------


@register(
    "window_session",
    oracle="""
WITH e AS (
  SELECT user_id, date_trunc('microseconds', ts) AS ts, value FROM events
),
d AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id,
       min(ts)                           AS session_start,
       max(ts) + INTERVAL 30 MINUTE      AS session_end,
       count(*)                          AS n_events,
       round(sum(value), 2)              AS total_value
FROM s
GROUP BY user_id, sid
""",
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user — Spark-native
    ``session_window``, absent in the reference (tumbling only,
    ``CallsAggregationApp.java:57``).

    The DuckDB twin is the classic gap-islands rewrite; the break condition
    is strictly ``> gap`` because Spark merges an event landing exactly at
    the previous session's end (windows touch → merge). Scale: sessionization
    shuffles once on user_id and merges windows in state — no self-join, no
    sort beyond the per-key window merge.
    """
    return session_totals(load_table(spark, sf_dir, "events"))


def session_totals(ev: DataFrame) -> DataFrame:
    """Per-user 30-minute-gap sessions with their event count and rounded
    value sum — one stage for ``window_session`` and its streaming twin
    (``streaming_session_windows``, which watermarks ``ev`` first)."""
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "window_sliding",
    oracle="""
WITH e AS (
  SELECT date_trunc('microseconds', ts) AS ts, event_type, value FROM events
),
slid AS (
  SELECT make_timestamp((epoch_us(ts) // 900000000 - k.k) * 900000000) AS window_start,
         event_type, value
  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS total_value
FROM slid
GROUP BY window_start, event_type
""",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows — 1 hour long, 15-minute slide, per
    event_type. Each event lands in 4 overlapping windows; the oracle
    replays that by cross-joining each event with slide offsets 0..3 on the
    epoch-aligned 15-minute grid (Spark windows are epoch-aligned).

    Scale: Spark expands the 4 window assignments map-side then runs one
    partial-agg shuffle on (window, event_type) — input amplification is the
    window/slide ratio, the standard cost of hopping windows.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "window_session_dynamic",
    oracle="""
WITH e AS (
  SELECT user_id, date_trunc('microseconds', ts) AS ts,
         CASE WHEN event_type = 'purchase' THEN INTERVAL 30 MINUTE
              ELSE INTERVAL 10 MINUTE END AS gap
  FROM events
),
m AS (
  SELECT *, max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM e
),
f AS (
  SELECT *, CASE WHEN prev_end IS NULL OR ts > prev_end THEN 1 ELSE 0 END AS brk FROM m
),
s AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
)
SELECT user_id, min(ts) AS session_start, max(ts + gap) AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
""",
)
def window_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a *per-event* inactivity gap (purchases hold the
    session open 30 minutes, everything else 10) — ``session_window`` with a
    gap **expression**, a Spark capability few engines expose. Each event
    extends the session to ``ts + its own gap``; overlapping extents merge.

    The oracle is interval-union islands: a session breaks when an event
    starts strictly after the running ``max(ts + gap)`` of everything
    before it (plain gap-islands via ``lag`` is wrong here — a long-gap
    event can bridge over a short-gap successor). Same strict-``>``
    boundary as the fixed-gap twin: touching windows merge. Scale: one
    shuffle on user_id, state-side window merge, no self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
