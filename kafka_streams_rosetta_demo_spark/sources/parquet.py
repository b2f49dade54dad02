"""Batch parquet sources over the driver-generated testdata (TESTDATA.md).

The reference consumes Kafka topics (``builder.stream``/``builder.table``,
``CallsAggregationApp.java:51``, ``CallsEnrichedApp.java:53-60``); the batch
engine reads the equivalent record sets from parquet. Column pruning and
predicate pushdown reach the scan because these are plain declarative reads.

Two *role mappings* adapt the TPC-H-ish testdata to the reference's telco
domain (FIXTURES.md "Driver mapping" notes):

- ``events``   → raw CALLS stream: ``user_id`` → ``id_telef_origen``,
  ``floor(value)`` → ``duracion_origen``, ``ts`` → event time.
- ``customer`` → CLIENTES lookup table: ``c_custkey`` → ``TELEFONO`` (the join
  key after rekey, ``CallsEnrichedApp.java:54``), attributes → the five
  nullable enrichment fields (``callaggcust.avsc:32-44``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to microsecond TimestampType whatever physical form
    the parquet carries it in: nanos-as-long (TIMESTAMP(NANOS) data read
    under the legacy conf) is truncated exactly like DuckDB reading
    TIMESTAMP_NS, and TIMESTAMP_NTZ (micros with isAdjustedToUTC=false) is
    cast in the pinned-UTC session — value-preserving, so oracles agree.
    No-op when ``ts`` is already TimestampType. Shared by the batch loader
    and the streaming file source."""
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Schema of a given events parquet rarely changes within a process, so the
# footer read happens once per (path, on-disk fingerprint) — not once per
# streaming query start (each start otherwise pays a batch-read job before
# the stream begins). The fingerprint (mtime + size of the path, or of its
# direct children for a directory-shaped dataset) invalidates the entry when
# the file is rewritten in place, so long-lived drivers never serve a stale
# schema; it also keeps the cache from growing across rewrites of one path.
_EVENTS_SCHEMA_CACHE: dict[tuple, object] = {}


def _path_fingerprint(path: str) -> tuple:
    import os

    try:
        st = os.stat(path)
    except OSError:
        return (path, None)
    if os.path.isdir(path):
        parts = []
        for name in sorted(os.listdir(path)):
            try:
                cst = os.stat(os.path.join(path, name))
                parts.append((name, cst.st_mtime_ns, cst.st_size))
            except OSError:
                parts.append((name, None, None))
        return (path, tuple(parts))
    return (path, st.st_mtime_ns, st.st_size)


def events_schema(spark: SparkSession, events_path: str):
    """Footer-only schema read of an events parquet — the explicit schema a
    streaming file source needs, robust to either physical ts encoding
    (nanos→long under the legacy conf, or native TIMESTAMP/NTZ). Cached per
    (path, mtime, size); the legacy conf is still pinned per call because
    the subsequent streaming read needs it regardless of a cache hit."""
    from ..session import ensure_conf

    ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    key = _path_fingerprint(events_path)
    if key not in _EVENTS_SCHEMA_CACHE:
        if len(_EVENTS_SCHEMA_CACHE) >= 64:  # bound growth in long sessions
            _EVENTS_SCHEMA_CACHE.clear()
        _EVENTS_SCHEMA_CACHE[key] = spark.read.parquet(events_path).schema
    return _EVENTS_SCHEMA_CACHE[key]


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events.ts`` has shipped as both TIMESTAMP(NANOS) — which Spark 4
    rejects outright (PARQUET_TYPE_ILLEGAL) without the nanos-as-long legacy
    conf — and plain micros TIMESTAMP_NTZ. Read with the legacy conf set
    (harmless for non-nanos data) and normalize to TimestampType."""
    from ..session import ensure_conf

    ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def events_to_calls(events: DataFrame) -> DataFrame:
    """events → the raw CALLS stream shape (implied schema,
    ``CallsAggregationApp.java:54,72``). ``duracion_origen`` is long in the
    reference (``callagg.avsc``); the testdata value column is double, so we
    floor it — deterministic in both Spark and the DuckDB oracle. Shared by
    the batch loader and the streaming file source."""
    return events.select(
        F.col("user_id").cast("string").alias("id_telef_origen"),
        F.floor("value").alias("duracion_origen"),
        F.col("ts").alias("event_ts"),
    )


def rosetta_calls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw CALLS stream over the testdata role mapping."""
    return events_to_calls(load_table(spark, sf_dir, "events"))


def rosetta_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLIENTES_PORTA_SCR_T lookup side (``CustomerAggregate``,
    ``callaggcust.avsc:32-44``), keyed by ``TELEFONO``.

    Negative-balance customers are treated as churned (absent from the
    dimension) so the left join's null side — untested in the reference
    (``CallCustomerJoiner.java:24-28``) — is exercised on real data.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.where(F.col("c_acctbal") >= 0).select(
        F.concat_ws("_", F.col("c_custkey").cast("string"), F.col("c_name")).alias(
            "TELEF_Y_DOC"
        ),
        F.col("c_custkey").cast("string").alias("TELEFONO"),
        F.col("c_name").alias("DOC_CLIENTE"),
        F.col("c_nationkey").cast("int").alias("CLIENTE_ORANGE"),
        F.floor("c_acctbal").cast("int").alias("DAYS_EXCLIENTE"),
        F.col("c_mktsegment").alias("OPERADOR_ACTUAL"),
        F.when(F.col("c_acctbal") < 1000, F.lit("HIGH"))
        .when(F.col("c_acctbal") < 5000, F.lit("MEDIUM"))
        .otherwise(F.lit("LOW"))
        .alias("RIESGO"),
    )
