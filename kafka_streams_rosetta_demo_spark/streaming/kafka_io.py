"""Kafka topic I/O specs (S1/S3/S5/S6) with Avro-or-JSON value serde.

The reference consumes/produces Avro-valued topics through Confluent serdes
(``Consumed.with(stringSerde, valueAvroSerde)``, ``CallsAggregationApp.java:
51,85``; ``Produced.with``, ``CallsEnrichedApp.java:65``) with schemas
registered externally. The Spark equivalents are ``from_avro``/``to_avro``
over the Kafka source/sink's binary ``value`` column.

This environment has neither a Kafka broker nor the ``spark-avro`` package
jar, so the spec object separates three concerns so each is testable alone:

- ``reader_options()`` / ``writer_options()`` — the Kafka DSv2 options
  (subscribe, bootstrap, startingOffsets ``earliest`` per
  ``CallsAggregationApp.java:29,93-94``) — pure dicts, no cluster needed.
- ``parse(df)`` — binary (key, value, timestamp) → typed columns. Permissive:
  undecodable values become null and are *counted then dropped* (S5,
  ``LogAndContinueExceptionHandler``, ``CallsAggregationApp.java:34,100``)
  via ``observe`` metrics instead of failing the query.
- ``serialize(df)`` — typed columns → (key, value) ready for the Kafka sink.

Serde selection: ``avro`` (the JVM ``from_avro``/``to_avro`` expressions)
when the spark-avro module is loadable — probed once, lazily — else
``avro_py``: genuine Avro binary through the columnar Python codec
(``avro_codec.compile_flat``: the topic schema compiled once, then NumPy
kernels over each Arrow batch, run as Arrow UDFs; cross-validated
byte-level against the JVM's own Avro via the in-core ``AvroFileFormat``).
Either way the bytes on the wire are Avro, like the reference's topics;
``json`` remains selectable explicitly for JVM-only-expression paths.

Wire framing: the reference's Confluent serdes do NOT write raw Avro — every
value on the wire is ``0x00 magic + 4-byte big-endian schema id + body``
(``CallsEnrichedApp.java:70-79`` and ``CallsAggregationApp.java:31,101``
configure ``SpecificAvroSerde`` against a Schema Registry, whose wire format
is that 5-byte header). ``wire_format="confluent"`` makes this spec a
drop-in peer of the reference's topics: encode prepends the header, decode
verifies magic + schema id and strips it; a bad header is a deser error the
S5 counter sees, exactly like a corrupt body.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache

# Module-level so the Arrow-UDF type hints (evaluated lazily under
# ``from __future__ import annotations``) resolve against module globals.
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .avro_codec import compile_flat


@lru_cache(maxsize=1)
def avro_available() -> bool:
    """True when org.apache.spark.sql.avro is on the JVM classpath (the
    external spark-avro package — NOT bundled with pyspark). The probe must
    force *analysis*, not just column construction — Spark registers the
    function unconditionally and raises AVRO_NOT_LOADED only when a plan
    using it is analyzed."""
    try:
        from pyspark.sql import SparkSession
        from pyspark.sql.avro.functions import to_avro

        spark = SparkSession.getActiveSession()
        if spark is None:
            return False
        probe = spark.range(1).select(to_avro(F.struct(F.lit(1).alias("a"))))
        probe.schema  # analysis happens here
        return True
    except Exception:
        return False


@dataclass(frozen=True)
class KafkaTopicSpec:
    """One topic's schema + serde + connection facts (S6 config surface)."""

    topic: str
    value_schema: T.StructType
    bootstrap_servers: str = "localhost:9092"
    serde: str = "auto"  # auto | avro | json
    avro_record_name: str = "Value"
    starting_offsets: str = "earliest"  # CallsAggregationApp.java:29
    extra_options: dict = field(default_factory=dict)
    # raw | confluent — confluent wraps every value in the Schema-Registry
    # wire header (0x00 + int32 schema id) the reference's serdes emit.
    wire_format: str = "raw"
    schema_id: int = 1

    def _wire_header(self) -> bytes:
        return b"\x00" + self.schema_id.to_bytes(4, "big")

    def resolved_serde(self) -> str:
        if self.serde != "auto":
            return self.serde
        return "avro" if avro_available() else "avro_py"

    # -- connection specs ---------------------------------------------------

    def reader_options(self) -> dict[str, str]:
        return {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "subscribe": self.topic,
            "startingOffsets": self.starting_offsets,
            **self.extra_options,
        }

    def writer_options(self) -> dict[str, str]:
        return {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "topic": self.topic,
            **self.extra_options,
        }

    def read_stream(self, spark) -> DataFrame:
        """S1: the Kafka source stream, parsed. Requires broker + connector."""
        reader = spark.readStream.format("kafka")
        for k, v in self.reader_options().items():
            reader = reader.option(k, v)
        return self.parse(reader.load())

    # -- value serde --------------------------------------------------------

    def _schema_json(self) -> str:
        from ..schemas import avro_schema_json

        return avro_schema_json(self.value_schema, self.avro_record_name)

    def _decode_body(self, value: Column) -> Column:
        serde = self.resolved_serde()
        if serde == "avro":
            from pyspark.sql.avro.functions import from_avro

            # PERMISSIVE: corrupt records decode to null (S5)
            return from_avro(value, self._schema_json(), {"mode": "PERMISSIVE"})
        if serde == "avro_py":
            return self._avro_py_decode_udf()(value)
        return F.from_json(value.cast("string"), self.value_schema)

    def _avro_py_decode_udf(self):
        """Arrow UDF over the columnar Avro codec (``avro_codec.
        compile_flat``): each Arrow batch of bodies is decoded with NumPy
        kernels, no per-record Python. Permissive: a null, corrupt or
        truncated body yields an all-null row, which ``parse()`` counts as a
        deser drop (S5) — the same observable as the JVM path's null struct.
        A schema the codec cannot compile raises ValueError here, when the
        UDF is built, not inside a task."""
        codec = compile_flat(self._schema_json())
        # Permissive decode emits all-null rows for corrupt input, so the
        # UDF's declared return type must be nullable regardless of the
        # topic schema's nullability (same relaxation from_avro PERMISSIVE
        # applies JVM-side).
        nullable_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in self.value_schema.fields]
        )

        @F.arrow_udf(nullable_schema)
        def dec(bodies: pa.Array) -> pa.Array:
            # a dropped row is a struct of nulls, not a null struct
            return pa.StructArray.from_arrays(
                codec.decode(bodies).flatten(), fields=list(codec.arrow_type)
            )

        return dec

    def _avro_py_encode_udf(self):
        codec = compile_flat(self._schema_json())

        @F.arrow_udf(T.BinaryType())
        def enc(records: pa.Array) -> pa.Array:
            return codec.encode(records)

        return enc

    def decode_value(self, value: Column) -> Column:
        """Public serde surface: on-wire binary value → struct column; null
        on a bad wire header or undecodable body (the S5 drop condition)."""
        if self.wire_format == "confluent":
            # Header check is part of deserialization: a missing/mangled
            # magic byte or a foreign schema id nulls the record so the S5
            # counter in parse() sees it — the reference's serde throws and
            # LogAndContinue skips, same observable outcome.
            header_ok = (F.length(value) >= 6) & (
                F.substring(value, 1, 5) == F.lit(self._wire_header())
            )
            body = F.substring(value, 6, 2147483647)
            return F.when(header_ok, self._decode_body(body))
        return self._decode_body(value)

    def _encode_body(self, value: Column) -> Column:
        serde = self.resolved_serde()
        if serde == "avro":
            from pyspark.sql.avro.functions import to_avro

            return to_avro(value, self._schema_json())
        if serde == "avro_py":
            return self._avro_py_encode_udf()(value)
        return F.to_json(value).cast("binary")

    def encode_value(self, value: Column) -> Column:
        """Public serde surface: struct column → on-wire binary value
        (framed when ``wire_format="confluent"``)."""
        body = self._encode_body(value)
        if self.wire_format == "confluent":
            return F.concat(F.lit(self._wire_header()), body)
        return body

    def parse(self, raw: DataFrame, drop_corrupt: bool = True) -> DataFrame:
        """Binary Kafka records → typed columns.

        Output: ``key`` (string), the value-schema fields flattened, and
        ``kafka_ts`` (the record timestamp — the reference's event time,
        SURVEY §1 time model). Corrupt values are observed as
        ``deser_dropped`` then dropped (S5 log-and-continue) when
        ``drop_corrupt``.
        """
        parsed = raw.select(
            F.col("key").cast("string").alias("key"),
            self.decode_value(F.col("value")).alias("v"),
            F.col("timestamp").alias("kafka_ts"),
        )
        # Corrupt detection: permissive Avro yields a null struct; Spark's
        # lenient JSON parser instead yields a struct of all-null fields for
        # undecodable text, so both shapes count as corrupt. (A genuinely
        # all-null record is indistinguishable — acceptable: every reference
        # record carries at least its non-null key fields.)
        all_fields_null = None
        for f in self.value_schema.fields:
            cond = F.col(f"v.{f.name}").isNull()
            all_fields_null = cond if all_fields_null is None else (all_fields_null & cond)
        corrupt = F.col("v").isNull() | all_fields_null
        # Count drops query-side (observable metric ≈ the reference's
        # skipped-records metric) before filtering.
        parsed = parsed.observe(
            f"deser_{self.topic}",
            F.count(F.lit(1)).alias("records"),
            F.count(F.when(corrupt, 1)).alias("deser_dropped"),
        )
        if drop_corrupt:
            parsed = parsed.where(~corrupt)
        return parsed.select("key", "v.*", "kafka_ts")

    def serialize(self, df: DataFrame, key_col: str) -> DataFrame:
        """Typed columns → (key, value) for the Kafka sink (S3). All columns
        except ``key_col`` become the value record, in schema order."""
        value_struct = F.struct(*[F.col(f.name) for f in self.value_schema.fields])
        return df.select(
            F.col(key_col).cast("string").alias("key"),
            self.encode_value(value_struct).alias("value"),
        )

    def write_stream(self, df: DataFrame, key_col: str, checkpoint_dir: str):
        """S3: serialized writeStream to the topic. Requires broker."""
        return (
            self.serialize(df, key_col)
            .writeStream.format("kafka")
            .options(**self.writer_options())
            .option("checkpointLocation", checkpoint_dir)
        )
