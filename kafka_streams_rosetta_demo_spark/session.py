"""SparkSession factory.

The reference configures its runtime via hardcoded ``Properties`` blocks
(``CallsAggregationApp.java:25-34,91-101``) and a properties file + env
fallback (``CallsEnrichedApp.java:33-43,112-119``, ``utils/envProps.java:14-22``).
Here the equivalent surface is environment variables + keyword overrides on a
single builder function.

Scale posture: these defaults are tuned for the local[N] test harness but are
chosen so the same plans survive a real cluster — AQE for runtime re-planning
and skew-join splitting, partition coalescing so small stages don't fan out,
UTC session time so event-time semantics are stable across machines.

Python workers start through :mod:`.worker_daemon`, so an Arrow/pandas-UDF
task no longer re-reads ``pyspark.zip`` on every task set-up (100-200 ms
each on CPython < 3.13); a plain ``SparkSession.builder`` session still does.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Logged at ERROR only. AQE is on session-wide because the foreachBatch sink's
# batch jobs use it; every stateful stream start then logs, from each of
# these, a WARN that it turns AQE off for the stream — expected here, and
# otherwise interleaved with every bench child's per-query lines.
_QUIET_STREAM_LOGGERS = (
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
)


def ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a runtime conf only when it differs — per-call mutation of shared
    session state is a cross-query hazard; idempotent check-then-set makes
    the required value an assertion rather than a blind write."""
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if current != value:
        spark.conf.set(key, value)


def get_spark(
    app_name: str = "rosetta-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with engine defaults.

    Equivalent of ``buildStreamsProperties`` (``CallsEnrichedApp.java:33-43``):
    one place that owns runtime config.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Event-time correctness: the reference renders window bounds with
        # SimpleDateFormat in the JVM default TZ (CallCustomerJoiner.java:32-40);
        # we pin UTC so results are machine-independent and oracle-comparable.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Spark turns the console progress bar on for pyspark-shell launches;
        # its carriage-return stage bars would land in front of the lines
        # bench children and tools print on stderr
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "kafka_streams_rosetta_demo_spark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    for name in _QUIET_STREAM_LOGGERS:
        log4j.core.config.Configurator.setLevel(name, log4j.Level.ERROR)
    return spark
