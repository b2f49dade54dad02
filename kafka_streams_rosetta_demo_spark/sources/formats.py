"""Batch source/sink format surface: JSON, CSV, ORC, Avro and parquet.

The reference's only I/O is Kafka topics with Avro values (SURVEY §2.1
S1/S3; ``CallsAggregationApp.java:51,85``) — the streaming layer mirrors
that in ``streaming/kafka_io.py``. This module is the *batch* half of the
source/sink story: ``write_table`` and ``read_table`` over one format name.

- **Schema-on-read, never infer.** ``read_table`` requires an explicit
  ``StructType``. Schema inference reads the data twice and silently drifts
  with content; at 100 TB both are unacceptable. This is the batch analog
  of the fixed Avro writer schema the reference registers in Schema
  Registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_FORMATS = ("json", "csv", "parquet", "orc", "avro")

# Spark 4.1 ships the Avro file-format classes inside spark-sql but the
# short name "avro" registers only when the external spark-avro module is
# on the classpath (its DataSourceRegister). The fully-qualified class
# name loads either way — genuine JVM-side Avro container files, the batch
# twin of the reference's topic serde (see SCALING.md "Avro without the
# spark-avro jar"); `streaming/avro_codec.read_ocf` reads the same files
# jar-lessly and is cross-validated against this writer.
_AVRO_FQCN = "org.apache.spark.sql.avro.AvroFileFormat"


def _fmt(fmt: str) -> str:
    return _AVRO_FQCN if fmt == "avro" else fmt


def write_table(df: DataFrame, path: str, fmt: str = "json") -> None:
    """Write ``df`` to ``path`` in the given format (overwrite).

    CSV keeps a header only for human inspection — reads never rely on it
    (see ``read_table``). Timestamps round-trip as ISO-8601 strings in both
    text formats; Avro stores them as ``timestamp-micros`` natively.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format: {fmt!r} (want one of {_FORMATS})")
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(_fmt(fmt)).save(path)


def read_table(spark: SparkSession, path: str, schema: StructType, fmt: str = "json") -> DataFrame:
    """Read ``path`` with an **explicit** schema (mandatory — no inference).

    Both text readers run PERMISSIVE: a corrupt line becomes a null row
    instead of failing the 1000-executor job — the batch analog of the
    reference's ``LogAndContinueExceptionHandler`` deser policy (S5,
    ``CallsAggregationApp.java:34,100``); callers that need the drop count
    observe it the same way ``rosetta_deser_policy`` does.
    """
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format: {fmt!r} (want one of {_FORMATS})")
    reader = spark.read.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    if fmt in ("json", "csv"):
        reader = reader.option("mode", "PERMISSIVE")
    return reader.format(_fmt(fmt)).load(path)

