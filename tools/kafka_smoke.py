#!/usr/bin/env python
"""Opt-in live-broker end-to-end smoke: topic DDL → Avro produce → streaming
enrichment from the real Kafka source → batch-oracle assert.

The one reference surface no sandbox test can reach is the final hop against
a running broker: ``CallsEnrichedApp.java:81-110`` creates its topics with an
AdminClient and the apps produce/consume Confluent-framed Avro through them.
This script exercises exactly that hop with the engine's own pieces the
moment an environment provides a broker — and is a clean NO-OP otherwise, so
it can sit in CI unconditionally.

Usage::

    KAFKA_BOOTSTRAP=host:9092 [SCHEMA_REGISTRY_URL=http://host:8081] \
        [SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001] python tools/kafka_smoke.py

With only ``SCHEMA_REGISTRY_URL`` set (no broker) the script runs the
registry-only leg: register the three reference value schemas
(``CallsAggregationApp.java:31,101`` configures every serde with
``schema.registry.url``), frame one record with the ASSIGNED id, and resolve
it back through :func:`schema_for_wire_value` — the consumer hot path.
With neither env var the script is a no-op (exit 0). On either live leg an
unreachable registry is a FAILURE (exit 2), never a silent fallback to the
static offline ids: real records carrying ids the registry never assigned
would resolve to the wrong schema for every downstream Confluent consumer.

Requirements when KAFKA_BOOTSTRAP is set (absent in this sandbox — the
script reports which requirement is missing and exits 2):

- a reachable broker at ``$KAFKA_BOOTSTRAP``
- the ``confluent-kafka`` package (topic DDL, ``streaming/admin.py``)
- the ``spark-sql-kafka`` connector on the Spark classpath (the Kafka DSv2
  source/sink; e.g. ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``)

What it does (reference dataflow, engine implementation):

1. S4 — creates the four reference topics from the same properties keys as
   ``dev.properties:5-19`` via :func:`streaming.admin.create_topics`.
2. S3 — produces the customer dimension to ``CLIENTES_PORTA_SCR_T`` and the
   batch windowed call aggregates to ``CALLS_AGG``, both as Confluent-framed
   Avro through :meth:`KafkaTopicSpec.serialize` (schema ids resolved from
   ``$SCHEMA_REGISTRY_URL`` when set, else the static offline ids).
3. S1/J1 — runs the enrichment topology from the REAL Kafka source:
   ``spec.read_stream`` → stream-static left join against the customer
   dimension → :meth:`KafkaTopicSpec.write_stream` to ``CALLS_CLIENTES_ENR``
   (availableNow, checkpointed).
4. Gate — reads ``CALLS_CLIENTES_ENR`` back (batch Kafka source), decodes,
   and asserts row-for-row equality with the batch flagship
   ``rosetta_enriched`` — the same oracle-checked answer the driver gates.
"""

from __future__ import annotations

import os
import sys
import tempfile
import uuid

# `python tools/kafka_smoke.py` puts tools/ (not the repo root) on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def registry_smoke(registry_url: str) -> int:
    """Registry-only leg: the full producer-register → wire-frame →
    consumer-resolve loop against a real Confluent Schema Registry, no broker
    needed. Exercises the same client calls the broker path uses."""
    from pyspark.sql import SparkSession

    from kafka_streams_rosetta_demo_spark.queries import load_all
    from kafka_streams_rosetta_demo_spark.session import get_spark
    from kafka_streams_rosetta_demo_spark.sources.parquet import rosetta_customers
    from kafka_streams_rosetta_demo_spark.streaming.kafka_io import KafkaTopicSpec
    from kafka_streams_rosetta_demo_spark.streaming.schema_registry import (
        SchemaRegistryClient,
        SchemaRegistryUnavailable,
        resolve_spec_schema_id,
        schema_for_wire_value,
        topic_value_subject,
    )

    # Reuse a running session as is: get_spark() would re-apply the engine
    # defaults (shuffle.partitions among them) to a caller's session.
    spark = SparkSession.getActiveSession() or get_spark(app_name="registry-smoke")
    load_all()
    client = SchemaRegistryClient(registry_url)
    run = uuid.uuid4().hex[:8]

    customers = rosetta_customers(spark, SF_DIR)
    spec = KafkaTopicSpec(
        topic=f"CLIENTES_PORTA_SCR_T_{run}",
        value_schema=_value_schema(customers, "TELEFONO"),
        bootstrap_servers="unused:9092",
        wire_format="confluent",
        schema_id=21,
        avro_record_name="CustomerAggregate",
    )
    try:
        resolved = resolve_spec_schema_id(spec, client, strict=True)
    except SchemaRegistryUnavailable as e:
        print(f"kafka_smoke: registry unreachable: {e}", file=sys.stderr)
        return 2
    print(
        f"kafka_smoke: registered {topic_value_subject(spec.topic)} -> "
        f"id {resolved.schema_id}"
    )

    # Frame one record locally with the ASSIGNED id and resolve it back —
    # the consumer hot path (header → id → schema fetch). A FRESH client
    # plays the consumer: a real consumer is a different process and never
    # shares the producer's id cache, so this forces the actual GET.
    row = resolved.serialize(customers.limit(1), "TELEFONO").collect()[0]
    consumer = SchemaRegistryClient(registry_url)
    fetched = schema_for_wire_value(bytes(row["value"]), consumer)
    want = resolved._schema_json()
    import json as _json

    if _json.loads(fetched) != _json.loads(want):
        print(
            "kafka_smoke: MISMATCH — schema fetched by wire id differs from "
            "the registered writer schema",
            file=sys.stderr,
        )
        return 1
    latest = client.latest_version(topic_value_subject(spec.topic))
    if int(latest["id"]) != resolved.schema_id:
        print(
            f"kafka_smoke: MISMATCH — latest version id {latest['id']} != "
            f"assigned id {resolved.schema_id}",
            file=sys.stderr,
        )
        return 1
    print(
        "kafka_smoke: PASS (registry-only) — register / frame / "
        "resolve-by-wire-id / latest-version all consistent"
    )
    return 0


def _value_schema(df, key_col):
    import pyspark.sql.types as T

    return T.StructType([f for f in df.schema.fields if f.name != key_col])


def main() -> int:
    bootstrap = os.environ.get("KAFKA_BOOTSTRAP")
    registry_url = os.environ.get("SCHEMA_REGISTRY_URL")
    if not bootstrap and registry_url:
        return registry_smoke(registry_url)
    if not bootstrap:
        print(
            "kafka_smoke: neither KAFKA_BOOTSTRAP nor SCHEMA_REGISTRY_URL set "
            "— nothing to test, no-op."
        )
        return 0

    from pyspark.sql import functions as F

    from kafka_streams_rosetta_demo_spark.queries import load_all
    from kafka_streams_rosetta_demo_spark.session import get_spark
    from kafka_streams_rosetta_demo_spark.sources.parquet import rosetta_customers
    from kafka_streams_rosetta_demo_spark.streaming.admin import create_topics
    from kafka_streams_rosetta_demo_spark.streaming.kafka_io import KafkaTopicSpec
    from kafka_streams_rosetta_demo_spark.operators.joins import (
        enrich_calls_with_customers,
    )

    spark = get_spark(app_name="kafka-smoke")
    registry = load_all()

    # Unique run suffix: smoke runs must not read a previous run's records.
    run = uuid.uuid4().hex[:8]
    t_customers = f"CLIENTES_PORTA_SCR_T_{run}"
    t_rekeyed = f"rekeyed-customers-{run}"
    t_calls = f"CALLS_AGG_{run}"
    t_enriched = f"CALLS_CLIENTES_ENR_{run}"

    # ---- 1. topic DDL (S4) — same property keys as dev.properties:5-19 ----
    props = {
        "customer.topic.name": t_customers,
        "customer.topic.partitions": "1",
        "customer.topic.replication.factor": "1",
        "rekeyed.customer.topic.name": t_rekeyed,
        "rekeyed.customer.topic.partitions": "1",
        "rekeyed.customer.topic.replication.factor": "1",
        "call.topic.name": t_calls,
        "call.topic.partitions": "1",
        "call.topic.replication.factor": "1",
        "call.customer.topic.name": t_enriched,
        "call.customer.topic.partitions": "1",
        "call.customer.topic.replication.factor": "1",
    }
    try:
        defs = create_topics(props, bootstrap)
    except RuntimeError as e:
        print(f"kafka_smoke: {e}", file=sys.stderr)
        return 2
    print(f"kafka_smoke: created {len(defs)} topics: {[d.name for d in defs]}")

    # ---- 2. produce dimension + aggregates as Confluent-framed Avro (S3) ----
    customers = rosetta_customers(spark, SF_DIR)
    agg = registry["rosetta_calls_window_agg"].fn(spark, SF_DIR)
    # wire shape mirrors callaggcust.avsc: WINDOW_START_TS as epoch-ms long
    agg_wire = agg.select(
        "id_telef_origen",
        F.unix_millis("window_start").alias("window_start_ms"),
        F.unix_millis("window_end").alias("window_end_ms"),
        "calls_count",
        "max_duracion_origen",
        "total_duracion_origen",
        "avg_duracion_origen",
    )

    spec_cust = KafkaTopicSpec(
        topic=t_customers,
        value_schema=_value_schema(customers, "TELEFONO"),
        bootstrap_servers=bootstrap,
        wire_format="confluent",
        schema_id=21,
        avro_record_name="CustomerAggregate",
    )
    spec_calls = KafkaTopicSpec(
        topic=t_calls,
        value_schema=_value_schema(agg_wire, "id_telef_origen"),
        bootstrap_servers=bootstrap,
        wire_format="confluent",
        schema_id=22,
        avro_record_name="CallAggregate",
    )

    if registry_url:
        from kafka_streams_rosetta_demo_spark.streaming.schema_registry import (
            SchemaRegistryClient,
            SchemaRegistryUnavailable,
            resolve_spec_schema_id,
            schema_for_wire_value,
        )

        client = SchemaRegistryClient(registry_url)
        # strict: SCHEMA_REGISTRY_URL was explicitly set, so an unreachable
        # registry is a smoke FAILURE — falling back to the static offline
        # ids would put never-assigned ids on real broker records.
        try:
            spec_cust = resolve_spec_schema_id(spec_cust, client, strict=True)
            spec_calls = resolve_spec_schema_id(spec_calls, client, strict=True)
        except SchemaRegistryUnavailable as e:
            print(f"kafka_smoke: registry unreachable: {e}", file=sys.stderr)
            return 2
        print(
            "kafka_smoke: registry-assigned schema ids:"
            f" customers={spec_cust.schema_id} calls={spec_calls.schema_id}"
        )

    try:
        (
            spec_cust.serialize(customers, "TELEFONO")
            .write.format("kafka")
            .options(**spec_cust.writer_options())
            .save()
        )
        (
            spec_calls.serialize(agg_wire, "id_telef_origen")
            .write.format("kafka")
            .options(**spec_calls.writer_options())
            .save()
        )
    except Exception as e:  # connector jar missing is the common failure
        print(
            "kafka_smoke: Kafka batch write failed — is the spark-sql-kafka "
            f"connector on the classpath? ({e})",
            file=sys.stderr,
        )
        return 2
    print(f"kafka_smoke: produced {customers.count()} customers, aggregates to {t_calls}")

    # ---- 3. streaming enrichment from the REAL Kafka source (S1 + J1) ----
    spec_enr_in = KafkaTopicSpec(
        topic=t_calls,
        value_schema=spec_calls.value_schema,
        bootstrap_servers=bootstrap,
        wire_format="confluent",
        schema_id=spec_calls.schema_id,
        avro_record_name="CallAggregate",
    )
    stream = spec_enr_in.read_stream(spark)  # parse() drops deser errors (S5)
    call_stream = stream.select(
        F.col("key").alias("id_telef_origen"),
        F.timestamp_millis(F.col("window_start_ms")).alias("window_start"),
        F.timestamp_millis(F.col("window_end_ms")).alias("window_end"),
        "calls_count",
        "max_duracion_origen",
        "total_duracion_origen",
        "avg_duracion_origen",
    )
    enriched = enrich_calls_with_customers(call_stream, customers)
    spec_out = KafkaTopicSpec(
        topic=t_enriched,
        value_schema=_value_schema(enriched, "id_telef_origen"),
        bootstrap_servers=bootstrap,
        wire_format="confluent",
        schema_id=23,
        avro_record_name="CallAggregateCust",
    )
    if registry_url:
        try:
            spec_out = resolve_spec_schema_id(spec_out, client, strict=True)
        except SchemaRegistryUnavailable as e:
            print(f"kafka_smoke: registry unreachable: {e}", file=sys.stderr)
            return 2
    with tempfile.TemporaryDirectory(
        prefix="ckpt_smoke_", ignore_cleanup_errors=True
    ) as ckpt:
        (
            spec_out.write_stream(enriched, "id_telef_origen", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    print(f"kafka_smoke: enrichment topology wrote to {t_enriched}")

    # ---- 4. assert against the batch flagship (the oracle-gated answer) ----
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", t_enriched)
        .option("startingOffsets", "earliest")
        .load()
    )
    if registry_url:
        # Consumer-side resolution (reference shape: the deserializer reads
        # the wire id and fetches the writer schema): one on-wire value from
        # the enriched topic must resolve, via the registry, to exactly the
        # schema the producer registered.
        import json as _json

        sample = raw.select("value").limit(1).collect()
        if sample:
            fetched = schema_for_wire_value(bytes(sample[0]["value"]), client)
            if _json.loads(fetched) != _json.loads(spec_out._schema_json()):
                print(
                    "kafka_smoke: MISMATCH — wire id on the enriched topic "
                    "resolves to a schema different from the registered one",
                    file=sys.stderr,
                )
                return 1
            print("kafka_smoke: wire-id → registry schema resolution verified")
    got = spec_out.parse(raw).drop("kafka_ts").withColumnRenamed(
        "key", "id_telef_origen"
    )
    expected = registry["rosetta_enriched"].fn(spark, SF_DIR)

    cols = sorted(expected.columns)
    a = sorted(map(tuple, got.select(*cols).collect()))
    b = sorted(map(tuple, expected.select(*cols).collect()))
    if a != b:
        print(
            f"kafka_smoke: MISMATCH — broker round-trip produced {len(a)} rows, "
            f"batch flagship {len(b)}; first diff: "
            f"{next((x for x, y in zip(a, b) if x != y), (a or b)[:1])}",
            file=sys.stderr,
        )
        return 1
    print(f"kafka_smoke: PASS — {len(a)} enriched rows match the batch flagship")
    return 0


if __name__ == "__main__":
    sys.exit(main())
