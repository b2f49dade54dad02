"""Pure-Python Avro binary codec — the jar-less executable Avro serde.

The reference's topic values are Avro through Confluent serdes
(``CallsAggregationApp.java:33,40-41``; schemas ``callagg.avsc`` /
``callaggcust.avsc``). Spark's ``from_avro``/``to_avro`` column functions
live in the *external* ``spark-avro`` module, which is not on this
environment's classpath and cannot be fetched (no network), so the JVM path
raises ``AVRO_NOT_LOADED``. Rather than silently downgrading the wire format
to JSON, this module implements the Avro **binary encoding** directly from
the public Apache Avro 1.12 specification ("Binary Encoding" +
"Object Container Files" sections) for the subset the reference's value
schemas use: records of primitive fields, nullable ``["null", T]`` unions,
arrays, maps, and the ``timestamp-millis``/``timestamp-micros`` logical types.

Correctness is pinned against the JVM's own Avro implementation: Spark 4.1
ships the Avro *file format* classes inside ``spark-sql`` (only the column
functions are external), and ``org.apache.spark.sql.avro.AvroFileFormat``
is loadable by fully-qualified class name. ``tests/test_avro_codec.py``
round-trips data both directions through that file format — bytes this
module writes are read by the JVM, bytes the JVM writes are read here — so
the binary encoding is verified against Apache Avro itself, not just
self-consistent.

Two surfaces share the binary encoding. ``encode_value``/``decode_value``
walk one value at a time and cover the whole subset above; they serve the
container files (``read_ocf``/``write_ocf``) and are the reference the
columnar codec is tested against. ``compile_flat`` covers flat records only
(primitive, ``bytes`` and ``timestamp-millis`` fields, each optionally
``["null", T]`` — every schema ``schemas.avro_schema_json`` emits, so all of
the Kafka edge) and works on whole Arrow arrays with NumPy kernels.

Scale note: at the Kafka edge (``kafka_io.KafkaTopicSpec`` serde
``"avro_py"``) the columnar codec runs as Arrow UDFs. On 50,009 CALLS_RAW
records (one 4-vCPU Xeon VM, best of 5) it encodes in 34 ms and decodes in
26 ms, against 317 ms and 377 ms one record at a time. The JVM
``from_avro``/``to_avro`` expressions still skip the Python worker
altogether: on a real cluster ship the ``spark-avro`` jar and the spec
auto-selects them; this codec is the executable fallback.
"""

from __future__ import annotations

import io
import json
import os
import struct as _struct
import zlib
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}

MAGIC = b"Obj\x01"

_INT32_MIN, _INT32_MAX = -(2**31), 2**31 - 1


# ---------------------------------------------------------------------------
# varint / zigzag (spec: int and long are zigzag + base-128 varint)
# ---------------------------------------------------------------------------


def _write_long(out: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63)  # zigzag (Python ints are arbitrary precision)
    while (n & ~0x7F) != 0:
        out.write(bytes([(n & 0x7F) | 0x80]))
        n >>= 7
    out.write(bytes([n & 0x7F]))


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint → (long, next pos). At most 10 bytes and 64 bits: a
    longer or wider varint is corrupt input, not a bigger number."""
    acc = 0
    for shift in range(0, 70, 7):
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            if acc >> 64:
                raise ValueError("varint wider than 64 bits")
            return (acc >> 1) ^ -(acc & 1), pos
    raise ValueError("varint longer than 10 bytes")


# ---------------------------------------------------------------------------
# value encode / decode against a parsed schema (JSON dict / list / str)
# ---------------------------------------------------------------------------


def _schema_type(schema) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _timestamp_micros_per_unit(schema) -> int | None:
    """1000 for timestamp-millis, 1 for timestamp-micros (what Spark's Avro
    writer emits), None for a plain long."""
    if isinstance(schema, dict) and schema.get("type") == "long":
        lt = schema.get("logicalType")
        if lt == "timestamp-millis":
            return 1000
        if lt == "timestamp-micros":
            return 1
    return None


def _to_epoch_units(v, us_per_unit: int) -> int:
    # pandas.Timestamp exposes .value (nanos) — integer-exact
    value_ns = getattr(v, "value", None)
    if value_ns is not None:
        return int(value_ns) // (1000 * us_per_unit)
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)  # session TZ is pinned UTC
        delta = v - _EPOCH
        us = (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
        return us // us_per_unit
    return int(v)


def encode_value(schema, v, out: io.BytesIO) -> None:
    t = _schema_type(schema)
    if t == "union":
        # spec: long index of the branch, then the value
        if v is None:
            idx = next(
                (i for i, b in enumerate(schema) if _schema_type(b) == "null"), None
            )
            if idx is None:
                raise ValueError("null for non-nullable union")
            _write_long(out, idx)
            return
        idx = next(
            (i for i, b in enumerate(schema) if _schema_type(b) != "null"), None
        )
        if idx is None:
            raise ValueError("union has no non-null branch")
        _write_long(out, idx)
        encode_value(schema[idx], v, out)
    elif t == "null":
        if v is not None:
            raise ValueError("non-null for null type")
    elif v is None:
        raise ValueError(f"null for non-nullable {t}")
    elif t == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif t in ("int", "long"):
        unit = _timestamp_micros_per_unit(schema)
        if unit is not None:
            _write_long(out, _to_epoch_units(v, unit))
        else:
            _write_long(out, int(v))
    elif t == "float":
        out.write(_struct.pack("<f", float(v)))
    elif t == "double":
        out.write(_struct.pack("<d", float(v)))
    elif t == "string":
        b = str(v).encode("utf-8")
        _write_long(out, len(b))
        out.write(b)
    elif t == "bytes":
        b = bytes(v)
        _write_long(out, len(b))
        out.write(b)
    elif t == "record":
        for f in schema["fields"]:
            try:
                fv = v[f["name"]] if not hasattr(v, "get") else v.get(f["name"])
            except (KeyError, IndexError, TypeError):
                fv = None
            encode_value(f["type"], fv, out)
    elif t == "array":
        items = list(v)
        if items:
            _write_long(out, len(items))
            for item in items:
                encode_value(schema["items"], item, out)
        _write_long(out, 0)
    elif t == "map":
        entries = list(v.items())
        if entries:
            _write_long(out, len(entries))
            for k, mv in entries:
                encode_value("string", k, out)
                encode_value(schema["values"], mv, out)
        _write_long(out, 0)
    else:
        raise ValueError(f"unsupported Avro type: {t!r}")


def decode_value(schema, buf: bytes, pos: int):
    t = _schema_type(schema)
    if t == "union":
        idx, pos = _read_long(buf, pos)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union branch {idx} out of range")
        return decode_value(schema[idx], buf, pos)
    if t == "null":
        return None, pos
    if t == "boolean":
        if pos >= len(buf):
            raise ValueError("truncated boolean")
        return buf[pos] != 0, pos + 1
    if t in ("int", "long"):
        n, pos = _read_long(buf, pos)
        if t == "int" and not _INT32_MIN <= n <= _INT32_MAX:
            raise ValueError(f"int value {n} outside int32")
        unit = _timestamp_micros_per_unit(schema)
        if unit is not None:
            from datetime import timedelta

            # naive UTC, integer-exact (no float epoch division)
            ts = _EPOCH.replace(tzinfo=None) + timedelta(microseconds=n * unit)
            return ts, pos
        return n, pos
    if t == "float":
        if pos + 4 > len(buf):
            raise ValueError("truncated float")
        return _struct.unpack_from("<f", buf, pos)[0], pos + 4
    if t == "double":
        if pos + 8 > len(buf):
            raise ValueError("truncated double")
        return _struct.unpack_from("<d", buf, pos)[0], pos + 8
    if t in ("string", "bytes"):
        n, pos = _read_long(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("truncated string/bytes")
        raw = buf[pos : pos + n]
        return (raw.decode("utf-8") if t == "string" else raw), pos + n
    if t == "record":
        rec = {}
        for f in schema["fields"]:
            rec[f["name"]], pos = decode_value(f["type"], buf, pos)
        return rec, pos
    if t == "array":
        items = []
        while True:
            n, pos = _read_long(buf, pos)
            if n == 0:
                break
            if n < 0:  # spec: negative count is followed by a byte size
                n = -n
                _, pos = _read_long(buf, pos)
            for _ in range(n):
                item, pos = decode_value(schema["items"], buf, pos)
                items.append(item)
        return items, pos
    if t == "map":
        m = {}
        while True:
            n, pos = _read_long(buf, pos)
            if n == 0:
                break
            if n < 0:
                n = -n
                _, pos = _read_long(buf, pos)
            for _ in range(n):
                k, pos = decode_value("string", buf, pos)
                m[k], pos = decode_value(schema["values"], buf, pos)
        return m, pos
    raise ValueError(f"unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# single-record surface (the OCF codec, and the columnar codec's test reference)
# ---------------------------------------------------------------------------


def parse_schema(schema_json: str):
    return json.loads(schema_json)


def encode_record(schema, record: dict) -> bytes:
    """One record → Avro binary body (what sits after the Confluent wire
    header on a reference topic)."""
    if isinstance(schema, str):
        schema = parse_schema(schema)
    out = io.BytesIO()
    encode_value(schema, record, out)
    return out.getvalue()


def decode_record(schema, data: bytes) -> dict:
    """Avro binary body → dict. Raises ValueError on corrupt/truncated input
    and on trailing garbage — the S5 drop condition."""
    if isinstance(schema, str):
        schema = parse_schema(schema)
    rec, pos = decode_value(schema, bytes(data), 0)
    if pos != len(data):
        raise ValueError(f"{len(data) - pos} trailing bytes after record")
    return rec


# ---------------------------------------------------------------------------
# columnar surface (the Kafka value serde): one flat schema compiled once,
# then whole Arrow arrays encoded / decoded with NumPy, no per-row Python.
# Every topic schema comes from ``schemas.avro_schema_json``: a record of
# primitive fields, each optionally ``["null", T]``. Such a body is a fixed
# sequence of varints, fixed-width values and length-prefixed payloads, so
# the decoder walks every row's cursor field by field in lock-step and the
# encoder scatters each field's bytes at precomputed offsets.
# ---------------------------------------------------------------------------

_ARROW_TYPES = {
    "boolean": pa.bool_(),
    "int": pa.int32(),
    "long": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "string": pa.string(),
    "bytes": pa.binary(),
}
_FIXED = {"float": np.dtype("<f4"), "double": np.dtype("<f8")}
_STEP = np.arange(10)  # a varint is at most 10 bytes
_SHIFTS = (_STEP * 7).astype(np.uint64)
# datetime's range in epoch micros: decode_value cannot build a value past it
_MIN_US = -62_135_596_800_000_000  # 0001-01-01
_MAX_US = 253_402_300_799_999_999  # 9999-12-31 23:59:59.999999


@dataclass(frozen=True)
class _Field:
    name: str
    kind: str  # a key of _ARROW_TYPES
    us_per_unit: int | None  # set on a timestamp-millis/-micros long
    nullable: bool  # ["null", T]: branch 0 is null, branch 1 a value

    @property
    def arrow_type(self) -> pa.DataType:
        if self.us_per_unit is not None:
            return pa.timestamp("us", tz="UTC")
        return _ARROW_TYPES[self.kind]


def compile_flat(schema) -> FlatCodec:
    """Record schema → its columnar codec. Raises ValueError for anything but
    a record of primitive / timestamp fields, each optionally ``["null",
    T]`` (the only union ``schemas.avro_schema_json`` writes)."""
    if isinstance(schema, str):
        schema = parse_schema(schema)
    if _schema_type(schema) != "record":
        raise ValueError("the columnar Avro codec needs a record schema")
    fields = []
    for f in schema["fields"]:
        t = f["type"]
        nullable = isinstance(t, list)
        if nullable:
            if len(t) != 2 or t[0] != "null":
                raise ValueError(f"field {f['name']!r}: union {t!r} is not [null, T]")
            t = t[1]
        kind = _schema_type(t)
        if kind not in _ARROW_TYPES:
            raise ValueError(f"field {f['name']!r}: Avro type {kind!r} is not flat")
        fields.append(_Field(f["name"], kind, _timestamp_micros_per_unit(t), nullable))
    return FlatCodec(tuple(fields))


def _valid(arr: pa.Array) -> np.ndarray:
    if arr.null_count == 0:
        return np.ones(len(arr), dtype=bool)
    return arr.is_valid().to_numpy(zero_copy_only=False)


def _binary_spans(arr: pa.Array) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(row starts, row ends, data bytes) of a binary or string array,
    honouring its slice offset."""
    wide = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type)
    _, offsets, data = arr.buffers()
    offsets = np.frombuffer(offsets, np.int64 if wide else np.int32)
    offsets = offsets[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.zeros(0, np.uint8) if data is None else np.frombuffer(data, np.uint8)
    return offsets[:-1], offsets[1:], data


def _spans(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenated index ranges ``starts[i] : starts[i] + lengths[i]``."""
    ends = np.cumsum(lengths)
    return np.repeat(starts - (ends - lengths), lengths) + np.arange(ends[-1] if len(ends) else 0)


def _varint_cells(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """int64 values → their zigzag varints as (n, width) byte cells + sizes."""
    z = ((v << 1) ^ (v >> 63)).view(np.uint64)
    size = 1 + (z[:, None] >= (np.uint64(1) << _SHIFTS[1:])).sum(axis=1)
    width = int(size.max(initial=1))
    cells = ((z[:, None] >> _SHIFTS[:width]) & np.uint64(0x7F)).astype(np.uint8)
    cells[_STEP[:width] < size[:, None] - 1] |= 0x80
    return cells, size


def _read_varints(buf, pos, end):
    """Zigzag varints at every cursor → (values, next cursors, ok). Not ok:
    no terminator in 10 bytes, past the row's end, or wider than 64 bits —
    the same drops as ``_read_long``."""
    cells = buf[pos[:, None] + _STEP]
    last = cells < 0x80
    size = last.argmax(axis=1) + 1
    ok = last.any(axis=1) & (pos + size <= end)
    width = int(size.max(initial=1))  # assemble only the bytes some row uses
    groups = (cells[:, :width] & 0x7F).astype(np.uint64)
    groups[_STEP[:width] >= size[:, None]] = 0
    if width == len(_STEP):
        ok &= groups[:, -1] <= 1  # the 10th byte holds bit 63 only
    acc = np.bitwise_or.reduce(groups << _SHIFTS[:width], axis=1)
    values = (acc >> np.uint64(1)) ^ (np.uint64(0) - (acc & np.uint64(1)))  # un-zigzag
    return values.view(np.int64), pos + size, ok


def _utf8_invalid(buf, starts, lengths) -> np.ndarray:
    """Per row: its bytes are not well-formed UTF-8, by the rule of
    ``bytes.decode("utf-8")``. The rows holding a byte >= 0x80 are decoded
    once, joined by an ASCII separator (no sequence spans it); only if that
    fails is each of them decoded alone to find the bad ones."""
    bad = np.zeros(len(starts), dtype=bool)
    high = buf[_spans(starts, lengths)] >= 0x80
    if not high.any():
        return bad
    rows = np.unique(np.repeat(np.arange(len(starts)), lengths)[high])
    chunks = [buf[s : s + k].tobytes() for s, k in zip(starts[rows], lengths[rows])]
    try:
        b"\n".join(chunks).decode("utf-8")
    except UnicodeDecodeError:
        for row, chunk in zip(rows, chunks):
            try:
                chunk.decode("utf-8")
            except UnicodeDecodeError:
                bad[row] = True
    return bad


@dataclass(frozen=True)
class FlatCodec:
    """Columnar Avro binary codec of one flat record schema (see
    ``compile_flat``). Byte-identical to ``encode_record``, and drops the
    rows ``decode_record`` rejects."""

    fields: tuple[_Field, ...]

    @property
    def arrow_type(self) -> pa.StructType:
        return pa.struct([pa.field(f.name, f.arrow_type) for f in self.fields])

    def encode(self, records: pa.StructArray) -> pa.BinaryArray:
        """Struct rows → Avro bodies. A null in a non-nullable field (a
        null struct row counts as all fields null) raises ValueError."""
        n = len(records)
        # (sizes, cells): (n, w) byte cells of which each row writes its
        # first sizes[row]; or (sizes, (data, starts)): a gathered payload
        parts = []
        for f, col in zip(self.fields, records.flatten()):
            valid = _valid(col)
            if f.nullable:  # branch index 0 / 1 zigzags to the single byte 0 / 2
                parts.append((np.ones(n, np.int64), (2 * valid).astype(np.uint8)[:, None]))
            elif not valid.all():
                raise ValueError(f"null in non-nullable field {f.name!r}")
            if f.kind in ("string", "bytes"):
                starts, ends, data = _binary_spans(col)
                length = np.where(valid, ends - starts, 0)
                cells, size = _varint_cells(length)
                parts.append((np.where(valid, size, 0), cells))
                parts.append((length, (data, starts)))
                continue
            if f.us_per_unit is not None:
                col = col.cast(pa.timestamp("us", tz=col.type.tz), safe=False).cast(pa.int64())
            col = col.fill_null(False if f.kind == "boolean" else 0)
            values = col.to_numpy(zero_copy_only=False)
            if f.kind == "boolean":
                cells, size = values.astype(np.uint8)[:, None], np.ones(n, np.int64)
            elif f.kind in _FIXED:
                dtype = _FIXED[f.kind]
                cells = values.astype(dtype).view(np.uint8).reshape(n, dtype.itemsize)
                size = np.full(n, dtype.itemsize)
            else:
                values = values.astype(np.int64)
                if f.us_per_unit is not None:
                    values //= f.us_per_unit  # floor, like _to_epoch_units
                cells, size = _varint_cells(values)
            parts.append((np.where(valid, size, 0), cells))

        offsets = np.zeros(n + 1, np.int64)
        np.cumsum(np.sum([size for size, _ in parts], axis=0), out=offsets[1:])
        if offsets[-1] > np.iinfo(np.int32).max:
            raise ValueError("Avro batch over 2 GiB")
        out = np.empty(offsets[-1], np.uint8)
        dst = offsets[:-1].copy()
        for size, body in parts:
            if isinstance(body, tuple):
                data, starts = body
                out[_spans(dst, size)] = data[_spans(starts, size)]
            else:
                step = _STEP[: body.shape[1]]
                keep = step < size[:, None]
                out[(dst[:, None] + step)[keep]] = body[keep]
            dst += size
        return pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(out)]
        )

    def decode(self, bodies: pa.Array) -> pa.StructArray:
        """Avro bodies → struct rows. Permissive: a null, truncated or
        otherwise undecodable body (trailing bytes, a union index out of
        range, invalid UTF-8, a value out of range for its field) yields a
        null row, fields included."""
        n = len(bodies)
        if n == 0:
            return pa.array([], type=self.arrow_type)
        pos, end, data = _binary_spans(bodies)
        buf = np.concatenate([data, np.zeros(len(_STEP), np.uint8)])
        alive = _valid(bodies)
        read = []  # per field: (rows holding a value, values)
        for f in self.fields:
            present = alive.copy()
            if f.nullable:
                branch, nxt, ok = _read_varints(buf, pos, end)
                alive &= ok & ((branch == 0) | (branch == 1))
                pos = np.where(alive, nxt, pos)
                present = alive & (branch == 1)
            if f.kind == "boolean":
                values, nxt, ok = buf[pos] != 0, pos + 1, pos < end
            elif f.kind in _FIXED:
                dtype = _FIXED[f.kind]
                nxt = pos + dtype.itemsize
                values = buf[pos[:, None] + _STEP[: dtype.itemsize]].view(dtype)[:, 0]
                ok = nxt <= end
            else:
                values, nxt, ok = _read_varints(buf, pos, end)
                if f.kind == "int":
                    ok &= (values >= _INT32_MIN) & (values <= _INT32_MAX)
                    values = values.astype(np.int32)
                elif f.us_per_unit is not None:
                    lo, hi = -(-_MIN_US // f.us_per_unit), _MAX_US // f.us_per_unit
                    ok &= (values >= lo) & (values <= hi)
                    values = values * f.us_per_unit
                elif f.kind in ("string", "bytes"):
                    ok &= (values >= 0) & (values <= end - nxt)
                    values, nxt = (nxt, values), nxt + values
            alive &= ok | ~present
            present &= alive
            pos = np.where(present, nxt, pos)
            read.append((present, values))
        alive &= pos == end
        for f, (present, values) in zip(self.fields, read):
            if f.kind == "string":
                starts, lengths = values
                alive &= ~_utf8_invalid(buf, starts, np.where(present & alive, lengths, 0))
        children = []
        for f, (present, values) in zip(self.fields, read):
            valid = present & alive
            validity = pa.py_buffer(np.packbits(valid, bitorder="little"))
            if f.kind in ("string", "bytes"):
                starts, lengths = values
                lengths = np.where(valid, lengths, 0)
                offsets = np.zeros(n + 1, np.int32)
                np.cumsum(lengths, out=offsets[1:])
                payload = buf[_spans(starts, lengths)]
                buffers = [validity, pa.py_buffer(offsets), pa.py_buffer(payload)]
            elif f.kind == "boolean":
                buffers = [validity, pa.py_buffer(np.packbits(values, bitorder="little"))]
            else:
                buffers = [validity, pa.py_buffer(np.ascontiguousarray(values))]
            children.append(pa.Array.from_buffers(f.arrow_type, n, buffers))
        return pa.StructArray.from_arrays(
            children, fields=list(self.arrow_type), mask=pa.array(~alive)
        )


# ---------------------------------------------------------------------------
# Object Container Files (spec "Object Container Files" section) — used to
# cross-validate this codec against the JVM AvroFileFormat, and as a
# jar-less avro file reader/writer in its own right.
# ---------------------------------------------------------------------------


def write_ocf(path: str, schema_json: str, records, codec: str = "null") -> None:
    schema = parse_schema(schema_json)
    sync = os.urandom(16)
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    _write_long(out, len(meta))
    for k, v in meta.items():
        encode_value("string", k, out)
        encode_value("bytes", v, out)
    _write_long(out, 0)  # end of metadata map
    out.write(sync)

    body = io.BytesIO()
    n = 0
    for rec in records:
        encode_value(schema, rec, body)
        n += 1
    data = body.getvalue()
    if codec == "deflate":
        data = zlib.compress(data)[2:-4]  # raw deflate: strip zlib hdr + adler
    elif codec != "null":
        raise ValueError(f"unsupported write codec {codec!r}")
    if n:
        _write_long(out, n)
        _write_long(out, len(data))
        out.write(data)
        out.write(sync)
    with open(path, "wb") as f:
        f.write(out.getvalue())


def read_ocf(path: str) -> tuple[dict, list[dict]]:
    """Read one .avro container file → (writer schema, records). Supports
    the ``null`` and ``deflate`` codecs (snappy needs a native lib)."""
    with open(path, "rb") as f:
        buf = f.read()
    if buf[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    pos = 4
    meta = {}
    while True:
        n, pos = _read_long(buf, pos)
        if n == 0:
            break
        if n < 0:
            n = -n
            _, pos = _read_long(buf, pos)
        for _ in range(n):
            k, pos = decode_value("string", buf, pos)
            meta[k], pos = decode_value("bytes", buf, pos)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    sync = buf[pos : pos + 16]
    pos += 16
    records: list[dict] = []
    while pos < len(buf):
        n, pos = _read_long(buf, pos)
        size, pos = _read_long(buf, pos)
        block = buf[pos : pos + size]
        pos += size
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported read codec {codec!r}")
        bpos = 0
        for _ in range(n):
            rec, bpos = decode_value(schema, block, bpos)
            records.append(rec)
        if bpos != len(block):
            raise ValueError("trailing bytes in OCF block")
        if buf[pos : pos + 16] != sync:
            raise ValueError("bad sync marker")
        pos += 16
    return schema, records
