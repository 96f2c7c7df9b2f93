"""Dependency-free Avro Object Container File writer/reader.

The reference's primary format is Avro (O1: avro/AvroRecordWriterProvider.java
:50-103 — DataFileWriter with codec from ``avro.codec``, schema bound at the
first record per file; O5: avro/AvroFileReader.java:42-53 — schema recovered
from the container header). This container image has no spark-avro module and
no avro Python package, so this module implements the public Avro 1.x
container spec directly from the specification (magic ``Obj\\x01``, metadata
map with ``avro.schema``/``avro.codec``, 16-byte sync markers, zigzag-varint
binary encoding) — enough to land Spark rows as valid .avro files and read
them back, schema included.

Codecs: ``null`` (reference default), ``deflate`` (raw RFC-1951 via zlib),
``snappy`` (pure-Python literal-only encoder + full block decoder with the
spec's big-endian CRC32 trailer — closing the last ``avro.codec``
enumeration gap, avro/AvroRecordWriterProvider.java:69), and ``bzip2`` —
the spec-mandated set (avro.codec test:
DataWriterAvroTest.testAvroCompression:405-442).

One codec per schema (``RecordCodec``), shared by the Spark sink and by
``write_container``/``read_container``:

- encode is column-at-a-time over Arrow arrays with numpy — zigzag varints
  for int/long/date/timestamp, the Arrow offsets and data buffer for
  string/bytes, the little-endian value bytes for float/double, one byte for
  boolean and a branch byte for a nullable union. Each column yields one
  byte range per record; the ranges are scattered into one buffer of whole
  records. Decimal and array columns use a per-row encoder for that column;
- decode walks the record bytes once with per-column readers compiled from
  the schema, reading ``bytes`` at integer positions, and returns Arrow
  arrays (timestamps from their integer micros).

Scale note: the sink writes files per Spark partition on the executors, and
decodes them there, each in one ``mapInArrow`` pass — the driver never sees
row data. On a real cluster with spark-avro on the classpath,
``sinks.build_sink`` uses the JVM writer instead; this pure-Python path is
the fallback that keeps Avro parity runnable anywhere.
"""

from __future__ import annotations

import bz2
import datetime
import decimal
import io
import itertools
import json
import struct
import zlib
from hashlib import md5

import numpy as np
import pyarrow as pa

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# binary primitives (Avro spec §"Binary encoding")


def _write_varint(out: bytearray, n: int) -> None:
    z = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


def _read_varint(b, p: int) -> tuple[int, int]:
    x = b[p]
    if x < 0x80:
        return (x >> 1) ^ -(x & 1), p + 1
    acc, shift = x & 0x7F, 7
    while True:
        p += 1
        x = b[p]
        acc |= (x & 0x7F) << shift
        if x < 0x80:
            return (acc >> 1) ^ -(acc & 1), p + 1
        shift += 7


def write_long(buf: io.BytesIO, n: int) -> None:
    out = bytearray()
    _write_varint(out, n)
    buf.write(out)


def read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def write_bytes(buf: io.BytesIO, b: bytes) -> None:
    write_long(buf, len(b))
    buf.write(b)


def read_bytes(buf: io.BytesIO) -> bytes:
    return buf.read(read_long(buf))


# ---------------------------------------------------------------------------
# snappy block codec (r10 VERDICT item 7) — pure Python, no dependency.
# Avro's `snappy` codec is a raw snappy BLOCK (not the framed stream)
# followed by the 4-byte BIG-endian CRC32 of the UNCOMPRESSED data
# (Avro spec §"snappy" / Java SnappyCodec). The encoder is literal-only
# — valid snappy by construction (the format permits any literal/copy
# mix; compressors differ only in ratio) — while the decoder handles the
# FULL element grammar (all four tags, overlapping copies), so blocks
# written by real snappy libraries (spark-avro, python-snappy) read
# back correctly.


def _snappy_compress(data: bytes) -> bytes:
    out = bytearray()
    n = len(data)
    while True:  # preamble: uncompressed length, little-endian varint
        b = n & 0x7F
        n >>= 7
        out.append(b | 0x80 if n else b)
        if not n:
            break
    pos = 0
    while pos < len(data):
        chunk = data[pos:pos + (1 << 24) - 1]
        ln = len(chunk)
        if ln <= 60:
            out.append((ln - 1) << 2)
        elif ln <= 256:
            out.append(60 << 2)
            out.append(ln - 1)
        elif ln <= 65536:
            out.append(61 << 2)
            out += (ln - 1).to_bytes(2, "little")
        else:
            out.append(62 << 2)
            out += (ln - 1).to_bytes(3, "little")
        out += chunk
        pos += ln
    return bytes(out)


def _snappy_decompress(data: bytes) -> bytes:
    pos, n, shift = 0, 0, 0
    while True:
        if pos >= len(data):
            raise ValueError("snappy: truncated preamble")
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 32:
            raise ValueError("snappy: preamble varint too long")
    out = bytearray()
    ln_data = len(data)
    while pos < ln_data:
        tag = data[pos]
        pos += 1
        t = tag & 3
        if t == 0:  # literal
            ln = (tag >> 2) + 1
            if ln > 60:
                nb = ln - 60
                if pos + nb > ln_data:
                    raise ValueError("snappy: truncated literal length")
                ln = int.from_bytes(data[pos:pos + nb], "little") + 1
                pos += nb
            if pos + ln > ln_data:
                raise ValueError("snappy: truncated literal")
            out += data[pos:pos + ln]
            pos += ln
            continue
        if t == 1:  # copy, 1-byte offset (3-bit length 4..11)
            if pos >= ln_data:
                raise ValueError("snappy: truncated copy1")
            ln = ((tag >> 2) & 0x7) + 4
            off = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif t == 2:  # copy, 2-byte little-endian offset
            if pos + 2 > ln_data:
                raise ValueError("snappy: truncated copy2")
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos:pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte little-endian offset
            if pos + 4 > ln_data:
                raise ValueError("snappy: truncated copy4")
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise ValueError("snappy: copy offset out of range")
        if off >= ln:  # disjoint: one slice append
            start = len(out) - off
            out += out[start:start + ln]
        else:  # overlapping copy runs byte-wise by definition
            for _ in range(ln):
                out.append(out[-off])
    if len(out) != n:
        raise ValueError(
            f"snappy: decoded length {len(out)} != preamble {n}"
        )
    return bytes(out)


# ---------------------------------------------------------------------------
# schema mapping: Spark StructType ↔ Avro record schema


def struct_to_avro_schema(schema, name: str = "record0") -> dict:
    """StructField → Avro field; nullable → union [null, T] with null default
    (the same mapping AvroData applies to optional Connect fields)."""
    return {
        "type": "record",
        "name": name,
        "fields": [
            {
                "name": f.name,
                "type": (["null", _avro_type(f.dataType)] if f.nullable else _avro_type(f.dataType)),
                **({"default": None} if f.nullable else {}),
            }
            for f in schema.fields
        ],
    }


def _avro_type(dt):
    s = dt.simpleString()
    if s.startswith("decimal("):
        # Connect decimal pass-through (SURVEY §1.2): bytes + logicalType
        # decimal with precision/scale, matching AvroData's mapping.
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if s == "bigint":
        return "long"
    if s == "int":
        return "int"
    if s in ("smallint", "tinyint"):
        return "int"
    if s == "double":
        return "double"
    if s == "float":
        return "float"
    if s == "string":
        return "string"
    if s == "boolean":
        return "boolean"
    if s == "binary":
        return "bytes"
    if s == "timestamp":
        return {"type": "long", "logicalType": "timestamp-micros"}
    if s == "timestamp_ntz":
        # Spark 4 reads parquet timestamps without isAdjustedToUTC as NTZ;
        # Avro 1.10+ spec maps that to local-timestamp-micros.
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if s == "date":
        return {"type": "int", "logicalType": "date"}
    if s.startswith("array<"):
        return {"type": "array", "items": _avro_type(dt.elementType)}
    raise TypeError(f"unsupported Spark type for avro: {s}")


def avro_to_struct(avro_schema: dict):
    from pyspark.sql import types as T

    def f_type(t):
        if isinstance(t, list):  # union [null, X]
            inner = [x for x in t if x != "null"][0]
            return f_type(inner)
        if isinstance(t, dict):
            lt = t.get("logicalType")
            if lt == "timestamp-micros":
                return T.TimestampType()
            if lt == "local-timestamp-micros":
                return T.TimestampNTZType()
            if lt == "date":
                return T.DateType()
            if lt == "decimal":
                return T.DecimalType(t["precision"], t["scale"])
            if t.get("type") == "array":
                return T.ArrayType(f_type(t["items"]))
            return f_type(t["type"])
        return {
            "long": T.LongType(),
            "int": T.IntegerType(),
            "double": T.DoubleType(),
            "float": T.FloatType(),
            "string": T.StringType(),
            "boolean": T.BooleanType(),
            "bytes": T.BinaryType(),
        }[t]

    if not (isinstance(avro_schema, dict) and avro_schema.get("type") == "record"):
        # top-level primitive schema (NonRecordContainer unwrap,
        # avro/AvroRecordWriterProvider.java:79-85): single column "value"
        return T.StructType([T.StructField("value", f_type(avro_schema), True)])
    return T.StructType(
        [
            T.StructField(f["name"], f_type(f["type"]), isinstance(f["type"], list))
            for f in avro_schema["fields"]
        ]
    )


# ---------------------------------------------------------------------------
# compiled codec: shared type helpers

_VARINT_KINDS = frozenset(
    ("long", "int", "date", "timestamp-micros", "local-timestamp-micros")
)
_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_ORDINAL = 719163  # date(1970, 1, 1).toordinal()
_PACK_D, _PACK_F = struct.Struct("<d").pack, struct.Struct("<f").pack
_UNPACK_D, _UNPACK_F = struct.Struct("<d").unpack_from, struct.Struct("<f").unpack_from


def _split_union(t):
    """(nullable, value type): a union ``[null, T]`` encodes as T behind a
    branch byte (null is branch 0 on write, as struct_to_avro_schema lays
    unions out)."""
    if isinstance(t, list):
        return True, [x for x in t if x != "null"][0]
    return False, t


def _kind(t) -> str:
    """Name of a non-union type: a primitive, a supported logical type or
    ``array``; other logical types encode as their underlying type."""
    if isinstance(t, dict):
        lt = t.get("logicalType")
        if lt in ("timestamp-micros", "local-timestamp-micros", "date", "decimal"):
            return lt
        if t.get("type") == "array":
            return "array"
        return _kind(t["type"])
    if t in ("long", "int", "double", "float", "string", "bytes", "boolean", "null"):
        return t
    raise TypeError(f"unsupported avro type {t!r}")


_ARROW_TYPES = {
    "long": pa.int64(),
    "int": pa.int32(),
    "timestamp-micros": pa.timestamp("us", tz="UTC"),
    "local-timestamp-micros": pa.timestamp("us"),
    "date": pa.date32(),
    "double": pa.float64(),
    "float": pa.float32(),
    "string": pa.string(),
    "bytes": pa.binary(),
    "boolean": pa.bool_(),
    "null": pa.null(),
}


def _arrow_type(t) -> pa.DataType:
    """Arrow type of a decoded column — Spark's Arrow type for the column
    ``avro_to_struct`` maps ``t`` to."""
    t = _split_union(t)[1]
    k = _kind(t)
    if k == "decimal":
        return pa.decimal128(t["precision"], t["scale"])
    if k == "array":
        return pa.list_(pa.field("element", _arrow_type(t["items"])))
    return _ARROW_TYPES[k]


def _naive(t: pa.DataType) -> pa.DataType:
    """``t`` with every zoned timestamp made naive (same UTC micros)."""
    if pa.types.is_timestamp(t) and t.tz is not None:
        return pa.timestamp(t.unit)
    if pa.types.is_list(t):
        return pa.list_(pa.field(t.value_field.name, _naive(t.value_type)))
    return t


def _pylist(arr) -> list:
    """Python values of a column, timestamps as naive UTC datetimes (the
    codec's convention for datetimes without a zone)."""
    if isinstance(arr, list):
        return arr
    return arr.cast(_naive(arr.type)).to_pylist()


def _micros(v) -> int:
    if hasattr(v, "timestamp"):
        # naive datetimes are UTC wall time by convention (decode returns
        # the same); integer arithmetic — no float rounding
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH) // datetime.timedelta(microseconds=1)
    return int(v)


# ---------------------------------------------------------------------------
# per-value encode/decode (decimal and array columns, unions other than
# [null, T] on read, and the _encode_value/_decode_value entry points)


def _row_encoder(t):
    """``enc(v, out)`` appending the encoding of one value to ``out``."""
    nullable, t = _split_union(t)
    k = _kind(t)
    if k in ("long", "int"):
        def enc(v, out):
            _write_varint(out, int(v))
    elif k in ("timestamp-micros", "local-timestamp-micros"):
        def enc(v, out):
            _write_varint(out, _micros(v))
    elif k == "date":
        def enc(v, out):
            _write_varint(out, v.toordinal() - _EPOCH_ORDINAL if hasattr(v, "toordinal") else int(v))
    elif k == "decimal":
        scale = t["scale"]

        def enc(v, out):
            unscaled = int(v.scaleb(scale).to_integral_value())
            raw = unscaled.to_bytes(max(1, (unscaled.bit_length() + 8) // 8), "big", signed=True)
            _write_varint(out, len(raw))
            out += raw
    elif k == "array":
        item = _row_encoder(t["items"])

        def enc(v, out):
            if v:
                _write_varint(out, len(v))
                for x in v:
                    item(x, out)
            out.append(0)
    elif k == "double":
        def enc(v, out):
            out += _PACK_D(float(v))
    elif k == "float":
        def enc(v, out):
            out += _PACK_F(float(v))
    elif k in ("string", "bytes"):
        def enc(v, out):
            raw = v.encode("utf-8") if k == "string" else bytes(v)
            _write_varint(out, len(raw))
            out += raw
    elif k == "boolean":
        def enc(v, out):
            out.append(1 if v else 0)
    else:  # null
        def enc(v, out):
            pass
    if not nullable:
        return enc

    def enc_union(v, out):
        if v is None:
            out.append(0)
        else:
            out.append(2)
            enc(v, out)

    return enc_union


def _row_decoder(t):
    """``dec(b, p) -> (value, next p)`` for one value at position ``p``, as
    the Python value Arrow converts to ``_arrow_type(t)``: integer micros
    and days for timestamps and dates, raw bytes for strings."""
    if isinstance(t, list):  # union: the branch index picks the type
        branches = [None if x == "null" else _row_decoder(x) for x in t]

        def dec_union(b, p):
            i, p = _read_varint(b, p)
            d = branches[i]
            return (None, p) if d is None else d(b, p)

        return dec_union
    k = _kind(t)
    if k in _VARINT_KINDS:
        return _read_varint
    if k == "decimal":
        scale = t["scale"]

        def dec(b, p):
            n, p = _read_varint(b, p)
            unscaled = int.from_bytes(b[p:p + n], "big", signed=True)
            return decimal.Decimal(unscaled).scaleb(-scale), p + n
    elif k == "array":
        item = _row_decoder(t["items"])

        def dec(b, p):
            out = []
            while True:
                n, p = _read_varint(b, p)
                if n == 0:
                    return out, p
                if n < 0:  # block with byte size prefix
                    n = -n
                    _, p = _read_varint(b, p)
                for _ in range(n):
                    v, p = item(b, p)
                    out.append(v)
    elif k == "double":
        def dec(b, p):
            return _UNPACK_D(b, p)[0], p + 8
    elif k == "float":
        def dec(b, p):
            return _UNPACK_F(b, p)[0], p + 4
    elif k in ("string", "bytes"):
        def dec(b, p):
            n, p = _read_varint(b, p)
            return b[p:p + n], p + n
    elif k == "boolean":
        def dec(b, p):
            return b[p] == 1, p + 1
    else:  # null
        def dec(b, p):
            return None, p
    return dec


def _encode_value(buf: io.BytesIO, t, v) -> None:
    out = bytearray()
    _row_encoder(t)(v, out)
    buf.write(out)


def _decode_value(buf: io.BytesIO, t):
    v, p = _row_decoder(t)(buf.getvalue(), buf.tell())
    buf.seek(p)
    return _pylist(pa.array([v], _arrow_type(t)))[0]


# ---------------------------------------------------------------------------
# column-at-a-time encode: every column becomes "parts", each one byte range
# per record — (source bytes, start of each range, length of each range)

#: zigzag varints of union branch 0 and branch 1 (one byte each)
_BRANCH = np.array([0, 2], np.uint8)
#: bit offsets of the ten 7-bit groups of a 64-bit varint
_SHIFTS = np.arange(0, 70, 7, dtype=np.uint64)
#: smallest zigzag value that needs k+2 varint bytes, k = 0..8
_LIMITS = np.left_shift(np.uint64(1), np.arange(7, 70, 7, dtype=np.uint64))


def _validity(arr) -> np.ndarray:
    if arr.null_count == 0:
        return np.ones(len(arr), bool)
    return arr.is_valid().to_numpy(zero_copy_only=False)


def _values(arr, dtype) -> np.ndarray:
    """The value buffer of a fixed-width array (null slots hold anything)."""
    return np.frombuffer(arr.buffers()[1], dtype, count=arr.offset + len(arr))[arr.offset:]


def _varint_part(vals: np.ndarray, valid):
    """Zigzag varints of int64 ``vals``, one row of 7-bit groups per value."""
    z = ((vals << 1) ^ (vals >> 63)).view(np.uint64)
    nbytes = 1 + (z[:, None] >= _LIMITS).sum(axis=1)
    width = int(nbytes.max())
    groups = ((z[:, None] >> _SHIFTS[:width]) & 0x7F).astype(np.uint8)
    groups[np.arange(width) < (nbytes - 1)[:, None]] |= 0x80
    if valid is not None:
        nbytes = nbytes * valid
    return groups.ravel(), np.arange(len(vals), dtype=np.int64) * width, nbytes


def _column_encoder(t):
    """``enc(column) -> parts`` for one column of avro type ``t``."""
    nullable, inner = _split_union(t)
    k = _kind(inner)
    if k in _VARINT_KINDS:
        def body(arr, valid):
            vals = _values(arr, np.dtype(f"<i{arr.type.bit_width // 8}")).astype(np.int64)
            return [_varint_part(vals, valid)]
    elif k in ("double", "float"):
        want, width = (pa.float64(), 8) if k == "double" else (pa.float32(), 4)

        def body(arr, valid):
            if arr.type != want:
                arr = arr.cast(want)
            src = _values(arr, np.dtype(f"<f{width}")).view(np.uint8)
            start = np.arange(len(arr), dtype=np.int64) * width
            ln = np.full(len(arr), width, np.int64)
            return [(src, start, ln if valid is None else ln * valid)]
    elif k in ("string", "bytes"):
        def body(arr, valid):
            large = pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type)
            offs = np.frombuffer(
                arr.buffers()[1], np.int64 if large else np.int32,
                count=arr.offset + len(arr) + 1,
            )[arr.offset:].astype(np.int64)
            data = arr.buffers()[2]
            src = np.frombuffer(data, np.uint8) if data is not None else np.empty(0, np.uint8)
            ln = np.diff(offs)
            if valid is not None:
                ln = ln * valid
            return [_varint_part(ln, valid), (src, offs[:-1], ln)]
    elif k == "boolean":
        def body(arr, valid):
            src = arr.fill_null(False).to_numpy(zero_copy_only=False).astype(np.uint8)
            ln = np.ones(len(arr), np.int64)
            return [(src, np.arange(len(arr), dtype=np.int64), ln if valid is None else ln * valid)]
    elif k == "null":
        def body(arr, valid):
            return []
    else:  # decimal, array: this column only, value by value
        row = _row_encoder(t)

        def enc_rows(arr):
            out, ends = bytearray(), []
            for v in _pylist(arr):
                row(v, out)
                ends.append(len(out))
            end = np.array(ends, np.int64)
            start = np.concatenate([[0], end[:-1]]).astype(np.int64)
            return [(np.frombuffer(bytes(out), np.uint8), start, end - start)]

        return enc_rows

    def enc(arr):
        valid = _validity(arr)
        if not nullable:
            if not valid.all():
                raise TypeError(f"null value for non-nullable avro type {t!r}")
            return body(arr, None)
        branch = (_BRANCH, valid.astype(np.int64), np.ones(len(arr), np.int64))
        return [branch] + body(arr, valid)

    return enc


def _copy_ranges(out, dst, src, start, ln) -> None:
    """out[dst[i]:dst[i]+ln[i]] = src[start[i]:start[i]+ln[i]] for every i."""
    total = int(ln.sum())
    if total == 0:
        return
    within = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(ln) - ln, ln)
    out[np.repeat(dst, ln) + within] = src[np.repeat(start, ln) + within]


# ---------------------------------------------------------------------------
# column-at-a-time decode


def _column_decoder(t):
    """``new() -> (step, finish)``: ``step(b, p)`` decodes one value at
    ``p`` into the column and returns the next position; ``finish()``
    returns the column as an Arrow array."""
    atype = _arrow_type(t)
    if isinstance(t, list) and len(t) == 2 and "null" in t:
        null_byte = 2 * t.index("null")  # the branch index as a varint
        read = _row_decoder(t[1 - t.index("null")])
    else:
        null_byte, read = None, _row_decoder(t)

    def new():
        vals: list = []
        append = vals.append
        if null_byte is None:
            def step(b, p):
                v, p = read(b, p)
                append(v)
                return p
        else:
            def step(b, p):
                if b[p] == null_byte:
                    append(None)
                    return p + 1
                v, p = read(b, p + 1)
                append(v)
                return p

        return step, lambda: pa.array(vals, atype)

    return new


# ---------------------------------------------------------------------------
# record codec


class RecordCodec:
    """Encoders and decoders compiled once per writer schema.

    Columns are a record's fields or, for a primitive container (the
    NonRecordContainer unwrap, avro/AvroRecordWriterProvider.java:79-85), the
    single column ``value``."""

    def __init__(self, schema):
        self.is_record = isinstance(schema, dict) and schema.get("type") == "record"
        if self.is_record:
            cols = [(f["name"], f["type"]) for f in schema["fields"]]
        else:
            cols = [("value", schema)]
        self.names = [name for name, _ in cols]
        self.types = [t for _, t in cols]
        self._encoders = [_column_encoder(t) for t in self.types]
        self._decoders = [_column_decoder(t) for t in self.types]

    def encode(self, columns, n: int) -> tuple[np.ndarray, np.ndarray]:
        """Encode ``n`` records given one column per name (Arrow arrays, or
        Python lists for decimal/array columns): the record bytes and the
        ``n + 1`` record offsets into them."""
        if n == 0:
            return np.empty(0, np.uint8), np.zeros(1, np.int64)
        parts = [part for enc, col in zip(self._encoders, columns) for part in enc(col)]
        offsets = np.zeros(n + 1, np.int64)
        for _, _, ln in parts:
            offsets[1:] += ln
        np.cumsum(offsets, out=offsets)
        out = np.empty(int(offsets[-1]), np.uint8)
        dst = offsets[:-1].copy()
        for src, start, ln in parts:
            _copy_ranges(out, dst, src, start, ln)
            dst += ln
        return out, offsets

    def decode(self, data, n: int) -> pa.RecordBatch:
        """The ``n`` records encoded back to back in ``data``, as columns."""
        cols = [new() for new in self._decoders]
        steps = [step for step, _ in cols]
        p = 0
        for _ in range(n):
            for step in steps:
                p = step(data, p)
        return pa.RecordBatch.from_arrays([finish() for _, finish in cols], names=self.names)

    def columns_from_rows(self, rows: list) -> list:
        """Columns of Python rows: dicts keyed by field name, or bare values
        for a primitive container."""
        if self.is_record:
            values = [[r[name] for r in rows] for name in self.names]
        else:
            values = [rows]
        cols = []
        for vals, t in zip(values, self.types):
            k = _kind(_split_union(t)[1])
            if k in ("decimal", "array"):
                cols.append(vals)  # encoded value by value, as given
            elif k in ("timestamp-micros", "local-timestamp-micros"):
                # zoned datetimes convert to their UTC instant, naive ones
                # are taken as UTC wall time
                cols.append(pa.array(vals, _ARROW_TYPES["timestamp-micros"]))
            else:
                cols.append(pa.array(vals, _arrow_type(t)))
        return cols


# ---------------------------------------------------------------------------
# container file


def _deflate(raw: bytes) -> bytes:
    return zlib.compress(raw, 6)[2:-4]  # raw RFC-1951 (strip zlib wrapper)


def _snappy_block(raw: bytes) -> bytes:
    # block + big-endian CRC32 of the UNCOMPRESSED bytes
    return _snappy_compress(raw) + (zlib.crc32(raw) & 0xFFFFFFFF).to_bytes(4, "big")


_COMPRESS = {"null": bytes, "deflate": _deflate, "snappy": _snappy_block, "bzip2": bz2.compress}


class ContainerWriter:
    """One Avro Object Container File fed whole encoded records; cuts blocks
    of exactly ``block_records`` records across ``append`` calls.

    Sync marker is md5(path) — deterministic, so re-running an idempotent
    task attempt produces byte-identical files (the same property the
    reference gets from offset-encoded filenames, F5/W2).
    """

    def __init__(self, path: str, schema, codec: str = "null", block_records: int = 1000):
        if codec not in _COMPRESS:
            raise ValueError(f"unsupported avro codec {codec!r}")
        self._compress = _COMPRESS[codec]
        self._block_records = block_records
        self._sync = md5(path.encode()).digest()
        self._pending: list = []
        self._pending_records = 0
        self.records = 0
        meta = io.BytesIO()
        write_long(meta, 2)
        write_bytes(meta, b"avro.schema")
        write_bytes(meta, json.dumps(schema).encode())
        write_bytes(meta, b"avro.codec")
        write_bytes(meta, codec.encode())
        write_long(meta, 0)
        self._fh = open(path, "wb")
        self._fh.write(MAGIC + meta.getvalue() + self._sync)

    def append(self, data: np.ndarray, offsets: np.ndarray) -> None:
        """Records ``i`` = ``data[offsets[i]:offsets[i + 1]]``."""
        i, m = 0, len(offsets) - 1
        while i < m:
            k = min(self._block_records - self._pending_records, m - i)
            self._pending.append(data[offsets[i]:offsets[i + k]])
            self._pending_records += k
            i += k
            if self._pending_records == self._block_records:
                self._flush()
        self.records += m

    def _flush(self) -> None:
        if not self._pending_records:
            return
        raw = self._compress(b"".join(self._pending))
        head = io.BytesIO()
        write_long(head, self._pending_records)
        write_long(head, len(raw))
        self._fh.write(head.getvalue() + raw + self._sync)
        self._pending, self._pending_records = [], 0

    def close(self) -> None:
        try:
            self._flush()
        finally:
            self._fh.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def write_container(
    out_path: str, avro_schema: dict, rows, codec: str = "null", block_records: int = 1000
) -> int:
    """Write an Avro Object Container File; returns the record count.

    ``rows`` are dicts keyed by field name or, for a primitive schema, the
    bare values. Encoded through the same ``RecordCodec`` as the sink, a
    block's worth of rows at a time."""
    rc = RecordCodec(avro_schema)
    with ContainerWriter(out_path, avro_schema, codec, block_records) as w:
        it = iter(rows)
        while chunk := list(itertools.islice(it, block_records)):
            w.append(*rc.encode(rc.columns_from_rows(chunk), len(chunk)))
    return w.records


def _read_meta(buf) -> dict[str, bytes]:
    if buf.read(4) != MAGIC:
        raise ValueError("not an avro container")
    meta: dict[str, bytes] = {}
    while True:
        cnt = read_long(buf)
        if cnt == 0:
            return meta
        if cnt < 0:
            read_long(buf)
            cnt = -cnt
        for _ in range(cnt):
            k = read_bytes(buf).decode()
            meta[k] = read_bytes(buf)


def read_schema(path: str) -> dict:
    """Schema from the container header only — no record decode, O(header)
    bytes read (what AvroFileReader.getSchema does, avro/AvroFileReader.java:42-53)."""
    with open(path, "rb") as fh:
        try:
            return json.loads(_read_meta(fh)["avro.schema"])
        except ValueError as e:
            raise ValueError(f"{e} in {path}") from None


def _snappy_unblock(payload: bytes) -> bytes:
    raw = _snappy_decompress(payload[:-4])
    if zlib.crc32(raw) & 0xFFFFFFFF != int.from_bytes(payload[-4:], "big"):
        raise ValueError("snappy block CRC mismatch")
    return raw


_DECOMPRESS = {
    "null": bytes,
    "deflate": lambda raw: zlib.decompress(raw, wbits=-15),
    "snappy": _snappy_unblock,
    "bzip2": bz2.decompress,
}


def read_batch(path: str) -> tuple[dict, pa.RecordBatch]:
    """O5 — schema from the container header + all records as Arrow columns."""
    with open(path, "rb") as fh:
        data = fh.read()
    buf = io.BytesIO(data)
    try:
        meta = _read_meta(buf)
        schema = json.loads(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        if codec not in _DECOMPRESS:
            raise ValueError(f"unsupported avro codec {codec!r}")
        sync = buf.read(16)
        payloads, n = [], 0
        while buf.tell() < len(data):
            n += read_long(buf)
            payloads.append(_DECOMPRESS[codec](buf.read(read_long(buf))))
            if buf.read(16) != sync:
                raise ValueError("sync marker mismatch")
    except ValueError as e:
        raise ValueError(f"{e} in {path}") from None
    return schema, RecordCodec(schema).decode(b"".join(payloads), n)


def read_container(path: str) -> tuple[dict, list[dict]]:
    """O5 — schema from the container header + all records decoded, as
    dicts (a primitive container's values under the ``value`` key)."""
    schema, batch = read_batch(path)
    names = batch.schema.names
    cols = [_pylist(c) for c in batch.columns]
    return schema, [dict(zip(names, vals)) for vals in zip(*cols)]
