"""Pin the pure-Python Avro codec against the JVM's own Avro implementation.

Spark 4.1 ships the Avro serde machinery inside ``spark-sql`` (only the
``from_avro``/``to_avro`` column functions live in the absent external
module), and ``org.apache.spark.sql.avro.AvroFileFormat`` is loadable by
fully-qualified class name. That gives a ground truth: bytes our codec
writes must be readable by Apache Avro's JVM reader and vice versa — if the
binary encoding drifted from the spec, these tests fail, not just a
self-consistent roundtrip.
"""

from __future__ import annotations

import glob
import io
import json
import math
import os
import random
import struct
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_rosetta_demo_spark.schemas import (
    CALL_AGGREGATE_CUST,
    CALLS_RAW,
    avro_schema_json,
)
from kafka_streams_rosetta_demo_spark.streaming.avro_codec import (
    _write_long,
    compile_flat,
    decode_record,
    encode_record,
    read_ocf,
    write_ocf,
)
from kafka_streams_rosetta_demo_spark.streaming.kafka_io import KafkaTopicSpec

AVRO_FQCN = "org.apache.spark.sql.avro.AvroFileFormat"

SCHEMA_JSON = json.dumps(
    {
        "type": "record",
        "name": "V",
        "namespace": "rosetta",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": ["null", "double"], "default": None},
            {"name": "flag", "type": "boolean"},
        ],
    }
)


def _records():
    return [
        {
            "id": i,
            "name": f"user_{i}_é✓",
            "score": (i * 1.5 if i % 3 == 0 else None),
            "flag": i % 2 == 0,
        }
        for i in range(200)
    ]


@pytest.mark.parametrize("compression", ["uncompressed", "deflate"])
def test_jvm_written_avro_decodes_with_python_codec(spark, tmp_path, compression):
    df = spark.range(200).select(
        F.col("id"),
        F.concat(
            F.lit("user_"), F.col("id").cast("string"), F.lit("_é✓")
        ).alias("name"),
        F.when(F.col("id") % 3 == 0, F.col("id").cast("double") * 1.5).alias("score"),
        (F.col("id") % 2 == 0).alias("flag"),
    )
    path = str(tmp_path / f"jvm_{compression}")
    df.coalesce(1).write.format(AVRO_FQCN).option("compression", compression).save(path)
    part = glob.glob(f"{path}/part-*.avro")[0]
    _, recs = read_ocf(part)
    got = sorted((r["id"], r["name"], r["score"], r["flag"]) for r in recs)
    want = sorted((r["id"], r["name"], r["score"], r["flag"]) for r in _records())
    assert got == want


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_python_written_avro_reads_back_in_jvm(spark, tmp_path, codec):
    d = tmp_path / f"py_{codec}"
    d.mkdir()
    write_ocf(str(d / "data.avro"), SCHEMA_JSON, _records(), codec=codec)
    back = spark.read.format(AVRO_FQCN).load(str(d)).collect()
    got = sorted((r.id, r.name, r.score, r.flag) for r in back)
    want = sorted((r["id"], r["name"], r["score"], r["flag"]) for r in _records())
    assert got == want


def test_record_roundtrip_with_timestamp_and_containers():
    schema = json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
                {"name": "tags", "type": {"type": "array", "items": "string"}},
                {"name": "attrs", "type": {"type": "map", "values": "long"}},
                {"name": "blob", "type": "bytes"},
                {"name": "ratio", "type": "float"},
            ],
        }
    )
    rec = {
        "ts": datetime(2026, 8, 14, 9, 30, 0, 250000),
        "tags": ["a", "b", ""],
        "attrs": {"x": -1, "y": 2**40},
        "blob": b"\x00\xff\x7f",
        "ratio": 0.25,
    }
    back = decode_record(schema, encode_record(schema, rec))
    assert back == rec


def test_corrupt_bodies_are_rejected_not_misparsed():
    body = encode_record(SCHEMA_JSON, _records()[7])
    with pytest.raises(ValueError):
        decode_record(SCHEMA_JSON, body[:-1])  # truncated
    with pytest.raises(ValueError):
        decode_record(SCHEMA_JSON, body + b"\x00")  # trailing garbage


def test_avro_py_serde_roundtrips_through_spark(spark):
    """End-to-end through the KafkaTopicSpec Arrow-UDF serde: struct →
    framed Avro bytes → struct, with a mangled body counted as a drop."""
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    spec = KafkaTopicSpec(
        topic="t", value_schema=schema, serde="avro_py", wire_format="confluent"
    )
    df = spark.range(50).select(
        F.col("id").alias("event_id"), (F.col("id") * 0.5).alias("value")
    )
    framed = spec.encode_value(F.struct("event_id", "value"))
    # truncate every 10th body (header intact) — decoder must null it
    on_wire = F.when(F.col("event_id") % 10 == 0, F.substring(framed, 1, 8)).otherwise(
        framed
    )
    out = df.select(
        "event_id", spec.decode_value(on_wire).alias("v")
    ).collect()
    for r in out:
        if r.event_id % 10 == 0:
            assert r.v.event_id is None and r.v.value is None
        else:
            assert r.v.event_id == r.event_id
            assert r.v.value == r.event_id * 0.5


def test_jvm_written_containers_and_timestamps_decode_with_python_codec(
    spark, tmp_path
):
    """Array, map, and timestamp columns through the JVM writer (its schema
    converter emits nullable-union elements and timestamp-micros) must
    decode correctly with the standalone codec — the container/logical-type
    paths, cross-validated like the primitives."""
    df = spark.sql(
        """
        SELECT id,
               array(id, id * 2) AS arr,
               map(concat('k', id), id) AS m,
               timestamp_micros(CAST(1755100800000000 + id * 1000000 AS LONG)) AS ts
        FROM range(50)
        """
    )
    path = str(tmp_path / "jvm_containers")
    df.coalesce(1).write.format(AVRO_FQCN).option("compression", "uncompressed").save(
        path
    )
    part = glob.glob(f"{path}/part-*.avro")[0]
    _, recs = read_ocf(part)
    assert len(recs) == 50
    by_id = {r["id"]: r for r in recs}
    for row in df.collect():
        r = by_id[row.id]
        assert r["arr"] == list(row.arr)
        assert r["m"] == dict(row.m)
        # Spark writes timestamp-micros; the codec returns naive-UTC
        # datetimes and the session TZ is pinned UTC
        assert r["ts"] == row.ts, (r["ts"], row.ts)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.text(max_size=40),
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=True)),
            st.booleans(),
        ),
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
@pytest.mark.slow  # full-suite lane: r15 fast lane must fit the driver's verify window
def test_codec_roundtrip_property(rows):
    """Spec identity on arbitrary records: decode(encode(r)) == r for any
    long/unicode-string/nullable-double/boolean combination (negative
    zigzags, astral-plane text, +-inf)."""
    for i, (a, b, c, d) in enumerate(rows):
        rec = {"id": a, "name": b, "score": c, "flag": d}
        back = decode_record(SCHEMA_JSON, encode_record(SCHEMA_JSON, rec))
        assert back == rec, (i, rec, back)


def test_avro_py_bytes_are_real_avro():
    """Spot-pin the binary encoding itself (not just a roundtrip): zigzag
    varint for the first long field, union index for the null branch."""
    rec = {"id": 42, "name": "x", "score": None, "flag": True}
    body = encode_record(SCHEMA_JSON, rec)
    # long 42 zigzags to 84 = 0x54; record fields are untagged so byte 0 is id
    assert body[0] == 0x54
    # name: length 1 (zigzag 2) then 'x'; score: union branch 0 (null);
    # flag: 0x01
    assert body[1:] == b"\x02x\x00\x01"
    assert decode_record(SCHEMA_JSON, body) == rec


# ---------------------------------------------------------------------------
# the columnar codec (compile_flat) against the per-record reference
# ---------------------------------------------------------------------------

# every type _spark_to_avro_field emits, nullable and not
MIXED = T.StructType(
    [
        T.StructField("d", T.DoubleType(), False),
        T.StructField("d_n", T.DoubleType(), True),
        T.StructField("f", T.FloatType(), False),
        T.StructField("f_n", T.FloatType(), True),
        T.StructField("b", T.BooleanType(), False),
        T.StructField("b_n", T.BooleanType(), True),
        T.StructField("raw", T.BinaryType(), False),
        T.StructField("raw_n", T.BinaryType(), True),
        T.StructField("ts_n", T.TimestampType(), True),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("s_n", T.StringType(), True),
    ]
)
FLAT_SCHEMAS = {"calls_raw": CALLS_RAW, "call_agg_cust": CALL_AGGREGATE_CUST, "mixed": MIXED}

_EDGE_LONGS = [0, -1, 1, 63, -64, 64, 2**31 - 1, -(2**31), 2**62, 2**63 - 1, -(2**63)]
_TEXT = "az09 é✓漢\U0001f600\x00"


def _random_value(rng: random.Random, dtype: T.DataType):
    if isinstance(dtype, T.StringType):
        return "".join(rng.choice(_TEXT) for _ in range(rng.randrange(12)))
    if isinstance(dtype, T.BinaryType):
        return bytes(rng.randrange(256) for _ in range(rng.randrange(12)))
    if isinstance(dtype, T.LongType):
        return rng.choice(_EDGE_LONGS) if rng.random() < 0.3 else rng.randrange(-(2**63), 2**63)
    if isinstance(dtype, T.IntegerType):
        return rng.randrange(-(2**31), 2**31)
    if isinstance(dtype, T.DoubleType):
        return rng.choice([0.0, -0.0, math.inf, -math.inf, 1e308, rng.uniform(-1e6, 1e6)])
    if isinstance(dtype, T.FloatType):  # values a float32 holds exactly
        return struct.unpack("<f", struct.pack("<f", rng.uniform(-1e6, 1e6)))[0]
    if isinstance(dtype, T.BooleanType):
        return rng.random() < 0.5
    assert isinstance(dtype, T.TimestampType)
    # anywhere in datetime's range, year 1 to 9999
    us = rng.randrange(-62_135_596_800_000_000, 253_402_300_800_000_000)
    return datetime(1970, 1, 1) + timedelta(microseconds=us)


def _random_rows(rng: random.Random, schema: T.StructType, n: int) -> list[dict]:
    return [
        {
            f.name: None if f.nullable and rng.random() < 0.2 else _random_value(rng, f.dataType)
            for f in schema.fields
        }
        for _ in range(n)
    ]


def _reference_decode(schema_json: str, body):
    """decode_record's verdict: the record, or None when it is dropped."""
    if body is None:
        return None
    try:
        return decode_record(schema_json, body)
    except (ValueError, OverflowError):
        return None


def _comparable(v):
    """Bit-exact floats (NaN payloads from corrupt bytes included) and
    naive-UTC timestamps, as decode_record returns them."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def _row(row):
    return None if row is None else {k: _comparable(v) for k, v in row.items()}


def _assert_decodes_like_reference(schema_json: str, bodies: list):
    got = compile_flat(schema_json).decode(pa.array(bodies, pa.binary())).to_pylist()
    want = [_reference_decode(schema_json, b) for b in bodies]
    for i, (g, w) in enumerate(zip(got, want)):
        assert _row(g) == _row(w), (i, bodies[i], g, w)
    return want


def _corrupt(rng: random.Random, body: bytes):
    kind = rng.randrange(5)
    if kind == 0:
        return body[: rng.randrange(len(body) + 1)]  # truncated
    if kind == 1:
        return body + bytes(rng.randrange(256) for _ in range(rng.randrange(1, 4)))
    if kind == 2:
        return bytes(rng.randrange(256) for _ in range(rng.randrange(40)))
    if kind == 3:
        return None
    flipped = bytearray(body)  # one random byte overwritten
    if flipped:
        flipped[rng.randrange(len(flipped))] = rng.randrange(256)
    return bytes(flipped)


@pytest.mark.parametrize("name", sorted(FLAT_SCHEMAS))
def test_columnar_codec_matches_per_record_codec(name):
    """Encode is byte-identical to encode_record; decode of intact and
    corrupted bodies (truncated, appended, random, null, overwritten) keeps
    and drops exactly the rows decode_record does, with the same values."""
    schema_json = avro_schema_json(FLAT_SCHEMAS[name], "V")
    codec = compile_flat(schema_json)
    rng = random.Random(f"differential-{name}")
    rows = _random_rows(rng, FLAT_SCHEMAS[name], 1500)
    encoded = codec.encode(pa.array(rows, codec.arrow_type)).to_pylist()
    assert encoded == [encode_record(schema_json, r) for r in rows]
    bodies = [_corrupt(rng, b) if rng.random() < 0.5 else b for b in encoded]
    verdicts = _assert_decodes_like_reference(schema_json, bodies)
    kept = sum(v is not None for v in verdicts)
    assert 0 < kept < len(bodies)  # both decisions exercised


def test_columnar_codec_honours_slice_offsets_and_empty_batches():
    schema_json = avro_schema_json(MIXED, "V")
    codec = compile_flat(schema_json)
    rows = _random_rows(random.Random(7), MIXED, 40)
    records = pa.array(rows, codec.arrow_type)
    assert codec.encode(records[13:29]).to_pylist() == [
        encode_record(schema_json, r) for r in rows[13:29]
    ]
    bodies = codec.encode(records)
    assert codec.decode(bodies[5:]).to_pylist() == codec.decode(bodies).to_pylist()[5:]
    assert codec.encode(records[:0]).to_pylist() == []
    assert codec.decode(bodies[:0]).to_pylist() == []
    assert codec.decode(pa.nulls(4, pa.binary())).to_pylist() == [None] * 4
    # a null struct row encodes as every field null (every field nullable)
    nullable = avro_schema_json(
        T.StructType([T.StructField(f.name, f.dataType) for f in MIXED.fields]), "V"
    )
    all_null = pa.nulls(3, compile_flat(nullable).arrow_type)
    assert compile_flat(nullable).encode(all_null).to_pylist() == [
        encode_record(nullable, dict.fromkeys(MIXED.fieldNames()))
    ] * 3


def test_columnar_codec_rejects_invalid_utf8_like_python():
    """The string field of CALLS_RAW filled with raw byte strings (through
    the byte-identical ``bytes`` encoding): kept iff Python's strict UTF-8
    decoder accepts them — overlongs, surrogates, stray continuations and
    sequences cut at the field's end included."""
    schema_json = avro_schema_json(CALLS_RAW, "V")
    as_bytes = json.loads(schema_json)
    as_bytes["fields"][0]["type"] = "bytes"
    tail = {"duracion_origen": 5, "event_ts": datetime(2026, 1, 1)}
    rng = random.Random(11)
    alphabet = [0x41, 0x7F, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF, 0xC0, 0xC1, 0xC2,
                0xDF, 0xE0, 0xE1, 0xED, 0xEF, 0xF0, 0xF4, 0xF5, 0xFF]
    raws = [b"\xed\xa0\x80", b"\xc0\x80", b"\xe2\x82", b"\xf4\x90\x80\x80"]
    raws.append("✓漢\U0001f600".encode())
    raws += [bytes(rng.choice(alphabet) for _ in range(rng.randrange(7))) for _ in range(3000)]
    bodies = [encode_record(as_bytes, {"id_telef_origen": r, **tail}) for r in raws]
    verdicts = _assert_decodes_like_reference(schema_json, bodies)
    for raw, verdict in zip(raws, verdicts):
        try:
            raw.decode("utf-8")
            assert verdict is not None, raw
        except UnicodeDecodeError:
            assert verdict is None, raw


def _varint(n: int) -> bytes:
    out = io.BytesIO()
    _write_long(out, n)
    return out.getvalue()


def test_columnar_codec_drops_out_of_range_values_like_reference():
    """Varints over 10 bytes or 64 bits, ints outside int32 and timestamps
    outside datetime's range are drops for both codecs; the edges are kept."""
    schema = T.StructType(
        [
            T.StructField("l", T.LongType(), False),
            T.StructField("i", T.IntegerType(), False),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )
    schema_json = avro_schema_json(schema, "V")
    ok_l, ok_i, ok_ts = _varint(1), _varint(2), _varint(0)
    max_ms, min_ms = 253_402_300_799_999, -62_135_596_800_000
    bodies = [
        ok_l + ok_i + ok_ts,
        b"\xff" * 9 + b"\x7f" + ok_i + ok_ts,  # 70-bit long
        b"\xff" * 9 + b"\x01" + ok_i + ok_ts,  # 64 bits: the widest legal varint
        b"\xff" * 10 + b"\x00" + ok_i + ok_ts,  # 11 bytes
        ok_l + _varint(2**31) + ok_ts,
        ok_l + _varint(-(2**31) - 1) + ok_ts,
        ok_l + _varint(2**31 - 1) + ok_ts,
        ok_l + _varint(-(2**31)) + ok_ts,
        ok_l + ok_i + _varint(max_ms),
        ok_l + ok_i + _varint(max_ms + 1),
        ok_l + ok_i + _varint(min_ms),
        ok_l + ok_i + _varint(min_ms - 1),
        ok_l + ok_i + _varint(2**62),
    ]
    verdicts = _assert_decodes_like_reference(schema_json, bodies)
    assert [v is not None for v in verdicts] == [
        True, False, True, False, False, False, True, True, True, False, True, False, False
    ]


def test_columnar_codec_refuses_nulls_and_non_flat_schemas():
    schema_json = avro_schema_json(CALLS_RAW, "V")
    codec = compile_flat(schema_json)
    row = {"id_telef_origen": None, "duracion_origen": 1, "event_ts": datetime(2026, 1, 1)}
    with pytest.raises(ValueError):
        encode_record(schema_json, row)
    with pytest.raises(ValueError, match="id_telef_origen"):
        codec.encode(pa.array([row], codec.arrow_type))
    for field_type in (
        {"type": "array", "items": "long"},
        {"type": "map", "values": "long"},
        ["null", "long", "string"],
        ["long", "null"],
        {"type": "record", "name": "R", "fields": []},
    ):
        schema = {"type": "record", "name": "V", "fields": [{"name": "x", "type": field_type}]}
        with pytest.raises(ValueError, match="'x'"):
            compile_flat(schema)


def test_columnar_encoded_bodies_read_back_in_jvm(spark, tmp_path):
    """One direction against Apache Avro itself: a null-codec OCF block is
    the concatenated record bodies, so the columnar encoder's output framed
    by write_ocf's header and sync marker must read back in AvroFileFormat."""
    schema_json = avro_schema_json(MIXED, "V")
    codec = compile_flat(schema_json)
    rows = _random_rows(random.Random(3), MIXED, 300)
    for r in rows:  # Spark reads timestamp-millis: keep the rows at millis
        if r["ts_n"] is not None:
            r["ts_n"] = r["ts_n"].replace(microsecond=r["ts_n"].microsecond // 1000 * 1000)
    bodies = codec.encode(pa.array(rows, codec.arrow_type)).to_pylist()
    d = tmp_path / "columnar"
    d.mkdir()
    path = str(d / "data.avro")
    write_ocf(path, schema_json, [])  # header + sync marker, no block
    with open(path, "rb") as fh:
        sync = fh.read()[-16:]
    block = b"".join(bodies)
    with open(path, "ab") as fh:
        fh.write(_varint(len(bodies)) + _varint(len(block)) + block + sync)
    assert [r for r in read_ocf(path)[1]] == rows  # the framing itself is sound
    back = spark.read.format(AVRO_FQCN).load(str(d)).collect()
    assert len(back) == len(rows)
    got = sorted((r.asDict() for r in back), key=lambda r: (r["i"], r["d"]))
    want = sorted(rows, key=lambda r: (r["i"], r["d"]))
    assert got == want


def test_avro_py_parse_drops_over_range_varints(spark):
    """One corrupt record must not fail a permissive parse(): a 70-bit long
    varint and an int field value outside int32 count as deser_dropped (S5
    log-and-continue) next to one good record."""
    schema = T.StructType(
        [T.StructField("l", T.LongType(), False), T.StructField("i", T.IntegerType(), False)]
    )
    spec = KafkaTopicSpec(topic="over_range", value_schema=schema, serde="avro_py")
    values = [
        _varint(1) + _varint(2),
        b"\xff" * 9 + b"\x7f" + _varint(2),
        _varint(1) + _varint(2**31),
    ]
    raw = spark.createDataFrame(
        [(str(k), v, datetime(2026, 1, 1)) for k, v in enumerate(values)],
        "key string, value binary, timestamp timestamp",
    )
    parsed = spec.parse(raw)
    rows = parsed.collect()
    assert [(r.key, r.l, r.i) for r in rows] == [("0", 1, 2)]
    metrics = parsed._jdf.queryExecution().observedMetrics()
    counts = metrics.get("deser_over_range").get()
    assert (counts.getLong(0), counts.getLong(1)) == (3, 2)


def test_kafka_edge_has_no_per_record_python():
    """Static guard: the Kafka edge's serde stays columnar (Arrow UDFs over
    compile_flat), so per-record pandas UDFs cannot creep back into it."""
    import inspect

    from kafka_streams_rosetta_demo_spark.streaming import kafka_io

    src = inspect.getsource(kafka_io)
    assert "pandas_udf" not in src
    assert "import pandas" not in src
