"""Pure-Python Avro container format: encode/decode goldens, Spark pipeline
round-trip, codec variants, and (when spark-avro is present) cross-validation
against the JVM reader — the strongest spec-compliance check available.
"""

from __future__ import annotations

import datetime
import io

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.formats.avro_io import (
    read_container, read_long, struct_to_avro_schema, write_container, write_long,
)
from kafka_connect_hdfs_spark.sinks import PurePythonAvroSink, build_sink


def test_zigzag_varint_golden():
    # spec examples: 0→00, -1→01, 1→02, -2→03, 2→04; -64→7f, 64→80 01
    for n, expect in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
                      (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        buf = io.BytesIO()
        write_long(buf, n)
        assert buf.getvalue() == expect, n
        assert read_long(io.BytesIO(expect)) == n


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy", "bzip2"])
def test_container_roundtrip_all_types(tmp_path, codec):
    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "i", "type": "long"},
            {"name": "s", "type": ["null", "string"], "default": None},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "arr", "type": {"type": "array", "items": "float"}},
        ],
    }
    rows = [
        {"i": 1, "s": "héllo", "d": 2.5, "b": True,
         "ts": datetime.datetime(2001, 2, 3, 4, 5, 6, 789000),
         "arr": [1.5, -2.25]},
        {"i": -42, "s": None, "d": -0.125, "b": False,
         "ts": datetime.datetime(1999, 12, 31, 23, 59, 59),
         "arr": []},
    ] * 700  # multiple blocks (block_records=1000)
    p = str(tmp_path / "t.avro")
    assert write_container(p, schema, iter(rows), codec=codec) == 1400
    got_schema, got = read_container(p)
    assert got_schema == schema
    assert len(got) == 1400
    assert got[0]["s"] == "héllo" and got[1]["s"] is None
    assert got[0]["ts"] == rows[0]["ts"]
    assert got[0]["arr"] == [1.5, -2.25]
    assert got[1]["i"] == -42


def test_spark_partitioned_write_and_readback(spark, sf_dir, tmp_path):
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").limit(300)
    sink = build_sink(HdfsSinkConfig(url="file:///x", format="avro", flush_size=10))
    assert isinstance(sink, PurePythonAvroSink)
    out = f"{tmp_path}/landed"
    sink.write(ev.withColumn("etype", F.col("event_type")), out, ["etype"])
    back = sink.read(spark, out)
    assert back.count() == 300
    # payload columns survive; partition col comes back from the dir name
    assert set(back.columns) == set(ev.columns) | {"etype"}
    orig_sum = ev.agg(F.sum("event_id")).first()[0]
    assert back.agg(F.sum("event_id")).first()[0] == orig_sum
    # O5: schema recovered from the newest landed container header
    rec = sink.schema_of(spark, out)
    assert {f.name for f in rec.fields} == set(ev.columns)


def test_jvm_reader_cross_validation(spark, tmp_path):
    """If spark-avro is on the classpath, the JVM reader must accept our
    files byte-for-byte (the real spec-compliance oracle)."""
    df = spark.createDataFrame(
        [Row(a=i, b=f"s{i}", c=float(i) / 4) for i in range(50)]
    )
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/plain"
    sink.write(df, out, [])
    try:
        back = spark.read.format("avro").load(out)
        n = back.count()
    except Exception as e:
        pytest.skip(f"JVM avro datasource unavailable: {e}")
    assert n == 50
    assert back.agg(F.sum("a")).first()[0] == sum(range(50))


def test_e3_schema_bootstrap_from_avro_containers(spark, tmp_path):
    """Reference flow: restart with compatibility=BACKWARD bootstraps the
    current schema from the NEWEST committed avro file
    (TopicPartitionWriter.java:334-350 + AvroFileReader.java:42-53), then
    projects older records up to it."""
    from kafka_connect_hdfs_spark.operators.schema_evolution import (
        VersionedSchema, project,
    )

    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/evolve"
    v1 = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")])
    sink.write(v1, out, [])
    import time as _t

    _t.sleep(0.05)  # schema_of picks the newest file by mtime
    v2 = spark.createDataFrame(
        [Row(id=3, name="c", score=1.5)]
    )
    import os

    os.makedirs(f"{out}/gen2", exist_ok=True)
    sink.write(v2, f"{out}/gen2", [])

    current = sink.schema_of(spark, out)  # newest = v2 (sorted last)
    assert "score" in current.fieldNames()

    projected = project(
        v1,
        VersionedSchema(v1.schema, version=1),
        VersionedSchema(current, version=2),
    )
    rows = projected.orderBy("id").collect()
    assert [r.asDict() for r in rows] == [
        {"id": 1, "name": "a", "score": None},
        {"id": 2, "name": "b", "score": None},
    ]


def test_decimal_logical_type_roundtrip(tmp_path):
    """Decimal-as-bytes (two's-complement unscaled int + precision/scale),
    the Connect decimal pass-through (SURVEY §1.2)."""
    import decimal

    schema = {
        "type": "record", "name": "r", "fields": [
            {"name": "amt", "type": {"type": "bytes", "logicalType": "decimal",
                                     "precision": 18, "scale": 2}},
            {"name": "opt", "type": ["null", {"type": "bytes", "logicalType": "decimal",
                                              "precision": 10, "scale": 3}],
             "default": None},
        ],
    }
    D = decimal.Decimal
    rows = [
        {"amt": D("1234567890123456.78"), "opt": D("-0.001")},
        {"amt": D("-0.01"), "opt": None},
        {"amt": D("0.00"), "opt": D("9999999.999")},
    ]
    p = str(tmp_path / "dec.avro")
    write_container(p, schema, iter(rows))
    _, got = read_container(p)
    assert [r["amt"] for r in got] == [r["amt"] for r in rows]
    assert [r["opt"] for r in got] == [r["opt"] for r in rows]


def test_timestamp_codec_integer_utc():
    """Encode/decode must use integer micros with a UTC convention on both
    sides — naive datetimes round-trip identically in any OS timezone."""
    import calendar

    from kafka_connect_hdfs_spark.formats.avro_io import _decode_value, _encode_value

    t = {"type": "long", "logicalType": "timestamp-micros"}
    for dt_ in [
        datetime.datetime(2001, 2, 3, 4, 5, 6, 789001),
        datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),  # negative micros
        datetime.datetime(2262, 1, 1, 0, 0, 0, 1),            # past float precision comfort
    ]:
        buf = io.BytesIO()
        _encode_value(buf, t, dt_)
        buf.seek(0)
        micros_expect = calendar.timegm(dt_.timetuple()) * 1_000_000 + dt_.microsecond
        buf2 = io.BytesIO(buf.getvalue())
        assert read_long(buf2) == micros_expect
        buf.seek(0)
        assert _decode_value(buf, t) == dt_


def test_primitive_value_container_unwrap(spark, tmp_path):
    """NonRecordContainer semantics (AvroRecordWriterProvider.java:79-85):
    a single bare 'value' column lands with a PRIMITIVE container schema."""
    from kafka_connect_hdfs_spark.formats.avro_io import read_schema

    df = spark.range(100).select(F.col("id").alias("value"))
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/prim"
    sink.write(df, out, [])
    import glob

    files = glob.glob(f"{out}/*.avro")
    assert files
    schema = read_schema(files[0])
    # nullable long -> union [null, long]; NOT a record wrapper
    assert schema == ["null", "long"] or schema == "long"
    back = sink.read(spark, out)
    assert back.columns == ["value"]
    assert back.agg(F.sum("value")).first()[0] == sum(range(100))


def test_append_batches_never_overwrite(spark, tmp_path):
    """ADVICE(high): a second append into the same partition dirs must not
    reuse filenames — both batches' rows survive."""
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/appends"
    b1 = spark.createDataFrame([Row(k="a", v=i) for i in range(10)])
    b2 = spark.createDataFrame([Row(k="a", v=i) for i in range(10, 30)])
    sink.write(b1, out, ["k"])
    sink.write(b2, out, ["k"])  # same partition dir k=a, same partition indices
    back = sink.read(spark, out)
    assert back.count() == 30
    assert back.agg(F.sum("v")).first()[0] == sum(range(30))


def test_overwrite_mode_and_invalid_mode(spark, tmp_path):
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/ow"
    sink.write(spark.createDataFrame([Row(v=1), Row(v=2)]), out, [])
    sink.write(spark.createDataFrame([Row(v=10)]), out, [], mode="overwrite")
    assert [r.v for r in sink.read(spark, out).collect()] == [10]
    with pytest.raises(ValueError):
        sink.write(spark.createDataFrame([Row(v=1)]), out, [], mode="errorifexists")


def test_unsupported_codec_fails_loudly_not_silently(spark, tmp_path):
    """The reference's codec enumeration (null/deflate/snappy/bzip2,
    avro/AvroRecordWriterProvider.java:69) is fully supported since r11;
    anything OUTSIDE it (e.g. the optional zstandard codec) must refuse
    — never silently write null-codec — unless the caller opts into the
    downgrade, which then warns."""
    import warnings

    out = f"{tmp_path}/codec"
    df = spark.createDataFrame([Row(v=1)])

    sink = PurePythonAvroSink("avro", ".avro", {"compression": "zstandard"})
    with pytest.raises(ValueError, match="zstandard"):
        sink.write(df, out, [])

    lenient = PurePythonAvroSink(
        "avro", ".avro",
        {"compression": "zstandard", "allowCodecFallback": True},
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        lenient.write(df, out, [])
    assert any("zstandard" in str(w.message) for w in caught)
    assert lenient.read(spark, out).count() == 1


def test_schema_of_prefers_max_committed_offset(spark, tmp_path):
    """Reference bootstraps from the file with the MAX END OFFSET
    (FileUtils.fileStatusWithMaxOffset), not the newest mtime: a replayed
    older chunk re-written later (newer mtime) must not win."""
    import os
    import time

    from kafka_connect_hdfs_spark.formats.avro_io import write_container

    out = f"{tmp_path}/boot"
    os.makedirs(out)
    new_schema = {"type": "record", "name": "r",
                  "fields": [{"name": "id", "type": "long"},
                             {"name": "extra", "type": "string"}]}
    old_schema = {"type": "record", "name": "r",
                  "fields": [{"name": "id", "type": "long"}]}
    # higher end offset written FIRST (older mtime)
    write_container(f"{out}/t+0+200+299.avro", new_schema,
                    iter([{"id": 1, "extra": "x"}]))
    time.sleep(0.05)
    # replay of an older chunk lands later (newer mtime, lower offset)
    write_container(f"{out}/t+0+000+099.avro", old_schema, iter([{"id": 2}]))
    sink = PurePythonAvroSink("avro", ".avro", {})
    got = sink.schema_of(spark, out)
    assert "extra" in got.fieldNames()


def test_distributed_read_multifile(spark, tmp_path):
    """Read path decodes executor-side over a parallelized file list — many
    files, one job, no driver-side row materialization (plan check: the
    result is RDD-backed, built from N file tasks)."""
    sink = PurePythonAvroSink("avro", ".avro", {})
    out = f"{tmp_path}/many"
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    ).repartition(8)
    sink.write(df, out, ["g"])
    import glob

    n_files = len(glob.glob(f"{out}/**/*.avro", recursive=True))
    assert n_files >= 7  # one file per (task, partition-dir) pair at least
    back = sink.read(spark, out)
    assert back.count() == 1000
    assert back.agg(F.sum("id")).first()[0] == sum(range(1000))


class TestPropertyRoundtrip:
    """Hypothesis fuzz of the container codec: arbitrary rows of every
    supported primitive must survive encode→decode bit-for-bit, in every
    codec, including block-boundary and empty-string/None edges."""

    def test_fuzz_rows_roundtrip(self, tmp_path):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from kafka_connect_hdfs_spark.formats.avro_io import (
            read_container, write_container,
        )

        schema = {
            "type": "record",
            "name": "fuzz",
            "fields": [
                {"name": "i", "type": ["null", "long"]},
                {"name": "s", "type": ["null", "string"]},
                {"name": "d", "type": ["null", "double"]},
                {"name": "b", "type": ["null", "boolean"]},
                {"name": "raw", "type": ["null", "bytes"]},
            ],
        }
        row = st.fixed_dictionaries(
            {
                "i": st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1),
                "s": st.none() | st.text(max_size=40),
                "d": st.none()
                | st.floats(allow_nan=False, allow_infinity=True, width=64),
                "b": st.none() | st.booleans(),
                "raw": st.none() | st.binary(max_size=20),
            }
        )
        counter = [0]

        @settings(max_examples=30, deadline=None)
        @given(rows=st.lists(row, max_size=25), codec=st.sampled_from(
            ["null", "deflate", "bzip2"]))
        def run(rows, codec):
            counter[0] += 1
            path = str(tmp_path / f"fuzz{counter[0]}.avro")
            n = write_container(path, schema, iter(rows), codec=codec)
            assert n == len(rows)
            _, back = read_container(path)
            assert back == rows

        run()


# ---------------------------------------------------------------------------
# the column-at-a-time codec: byte identity with the per-value reference and
# between the sink and write_container


#: one Avro field per encoder path, each nullable (branch byte) and not
_CODEC_SCHEMA = {
    "type": "record", "name": "r", "fields": [
        {"name": "i64", "type": "long"},
        {"name": "oi64", "type": ["null", "long"], "default": None},
        {"name": "i32", "type": ["null", "int"], "default": None},
        {"name": "i16", "type": "int"},
        {"name": "s", "type": ["null", "string"], "default": None},
        {"name": "raw", "type": ["null", "bytes"], "default": None},
        {"name": "b", "type": ["null", "boolean"], "default": None},
        {"name": "f", "type": "float"},
        {"name": "d", "type": ["null", "double"], "default": None},
        {"name": "dt", "type": ["null", {"type": "int", "logicalType": "date"}], "default": None},
        {"name": "ts", "type": ["null", {"type": "long", "logicalType": "timestamp-micros"}],
         "default": None},
        {"name": "ntz", "type": {"type": "long", "logicalType": "local-timestamp-micros"}},
        {"name": "dec", "type": ["null", {"type": "bytes", "logicalType": "decimal",
                                          "precision": 18, "scale": 2}], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "double"}},
        {"name": "oarr", "type": ["null", {"type": "array", "items": "string"}], "default": None},
    ],
}


def _codec_columns(n):
    """Arrow columns of the types Spark hands to mapInArrow for the
    _CODEC_SCHEMA fields, with nulls, extremes and empty values."""
    import decimal

    import pyarrow as pa

    ext = [2**63 - 1, -(2**63), 0, -1, 1, 63, -64, 64, 2**31, -(2**31) - 1]
    us = [(-1) ** k * k * 10**11 + k for k in range(n)]
    return [
        pa.array([ext[k % len(ext)] for k in range(n)], pa.int64()),
        pa.array([None if k % 3 == 0 else k * 10**9 for k in range(n)], pa.int64()),
        pa.array([None if k % 5 == 0 else -(2**31) + k for k in range(n)], pa.int32()),
        pa.array([k - 300 for k in range(n)], pa.int16()),
        pa.array([None if k % 4 == 0 else ["", "héllo", "日本語", "x" * 130][k % 4 - 1] * (k % 3)
                  for k in range(n)]),
        pa.array([None if k % 6 == 0 else bytes(range(k % 7)) for k in range(n)], pa.binary()),
        pa.array([None if k % 7 == 0 else k % 2 == 0 for k in range(n)]),
        pa.array([k / 3 for k in range(n)], pa.float32()),
        pa.array([None if k % 8 == 0 else -1e300 / (k + 1) for k in range(n)]),
        pa.array([None if k % 9 == 0 else k * 37 - 20_000 for k in range(n)], pa.date32()),
        pa.array([None if k % 10 == 0 else x for k, x in enumerate(us)],
                 pa.timestamp("us", tz="UTC")),
        pa.array(us, pa.timestamp("us")),
        pa.array([None if k % 11 == 0 else decimal.Decimal(k * 7919 - 10**6).scaleb(-2)
                  for k in range(n)], pa.decimal128(18, 2)),
        pa.array([[k / 2] * (k % 3) for k in range(n)], pa.list_(pa.float64())),
        pa.array([None if k % 2 else ["a", "bb"][: k % 3] for k in range(n)],
                 pa.list_(pa.string())),
    ]


def test_column_encoder_matches_per_value_reference():
    """The numpy column encoders produce the bytes of the per-value encoder
    (the reference implementation), record by record — also for batches
    that start at an offset into their buffers."""
    import pyarrow as pa

    from kafka_connect_hdfs_spark.formats.avro_io import RecordCodec, _encode_value, _pylist

    codec = RecordCodec(_CODEC_SCHEMA)
    types = [f["type"] for f in _CODEC_SCHEMA["fields"]]
    batch = pa.RecordBatch.from_arrays(_codec_columns(600), names=codec.names)
    for b in (batch, batch.slice(37, 400)):
        data, offsets = codec.encode(b.columns, b.num_rows)
        values = [_pylist(c) for c in b.columns]
        for k in range(b.num_rows):
            want = io.BytesIO()
            for t, col in zip(types, values):
                _encode_value(want, t, col[k])
            assert bytes(data[offsets[k]:offsets[k + 1]]) == want.getvalue(), k


def test_codec_golden_bytes(tmp_path):
    """Spec bytes of one record: zigzag long, union branch + length-prefixed
    UTF-8, little-endian double, one-byte boolean."""
    schema = {"type": "record", "name": "g", "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "boolean"},
    ]}
    p = str(tmp_path / "g.avro")
    write_container(p, schema, [{"i": -3, "s": "é", "d": 0.5, "b": True}])
    body = b"\x05" + b"\x02\x04\xc3\xa9" + b"\x00\x00\x00\x00\x00\x00\xe0\x3f" + b"\x01"
    data = open(p, "rb").read()
    assert data.endswith(b"\x02" + bytes([2 * len(body)]) + body + data[-16:])


def _typed_frame(spark):
    """Every sink-supported Spark type, in hive groups of 999/1000/1001
    records (``g``); the encodings' edge values recur in every group."""
    c = F.col("id")
    return spark.range(3000).select(
        c,
        F.when(c < 999, "a").when(c < 1999, "b").otherwise("c").alias("g"),
        F.when(c % 5 == 0, F.lit(2**63 - 1)).when(c % 5 == 1, F.lit(-(2**63)))
        .otherwise(c * 1_000_003 - 1_500_000_000).alias("i64"),
        F.when(c % 3 == 0, None).otherwise((c - 1500).cast("int")).alias("i32"),
        (c - 1500).cast("smallint").alias("i16"),
        F.when(c % 4 == 0, None).when(c % 4 == 1, "")
        .otherwise(F.concat(F.lit("héllo-日本-"), c.cast("string"))).alias("s"),
        F.when(c % 6 == 0, None).otherwise(c.cast("string").cast("binary")).alias("raw"),
        F.when(c % 7 == 0, None).otherwise(c % 2 == 0).alias("b"),
        (c / 7).cast("float").alias("f"),
        F.when(c % 8 == 0, None).otherwise(c / 3 - 400).alias("d"),
        F.date_add(F.lit("1960-01-01").cast("date"), (c * 13).cast("int")).alias("dt"),
        F.when(c % 10 == 0, None)
        .otherwise(F.timestamp_micros((c - 1500) * 86_400_000_123)).alias("ts"),
        F.timestamp_micros(c * 3_600_000_001).cast("timestamp_ntz").alias("ntz"),
        F.when(c % 11 == 0, None)
        .otherwise(((c - 1500) * 7919 / 100).cast("decimal(18,2)")).alias("dec"),
        F.when(c % 3 == 0, F.array().cast("array<double>"))
        .otherwise(F.array(c.cast("double"), F.lit(-0.5))).alias("arr"),
    )


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy", "bzip2"])
def test_sink_files_byte_identical_to_write_container(spark, tmp_path, codec):
    """The sink's files equal write_container's for the same records and
    path, in every codec, for groups of 999/1000/1001 records that span
    Arrow batches, and for the primitive (``value``) container."""
    import glob

    from kafka_connect_hdfs_spark.formats.avro_io import read_container

    sink = PurePythonAvroSink("avro", ".avro", {"compression": codec})
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "300")
    try:
        sink.write(_typed_frame(spark), f"{tmp_path}/rec", ["g"])
        sink.write(spark.range(2500).select(F.col("id").alias("value")), f"{tmp_path}/prim", [])
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    sizes = []
    for fp in sorted(glob.glob(f"{tmp_path}/**/*.avro", recursive=True)):
        landed = open(fp, "rb").read()
        schema, recs = read_container(fp)
        if "/rec/" in fp:
            sizes.append(len(recs))
        else:
            recs = [r["value"] for r in recs]
        assert write_container(fp, schema, recs, codec=codec) == len(recs)
        assert open(fp, "rb").read() == landed, fp
    assert sorted(sizes) == [999, 1000, 1001]


def test_sink_roundtrip_all_types(spark, tmp_path):
    """Every value survives sink write + read; TimestampType comes back as
    the same epoch micros."""
    df = _typed_frame(spark)
    sink = PurePythonAvroSink("avro", ".avro", {"compression": "deflate"})
    sink.write(df, f"{tmp_path}/rt", ["g"])
    back = sink.read(spark, f"{tmp_path}/rt")
    want = df.withColumn("i16", F.col("i16").cast("int"))  # avro int
    assert back.count() == 3000
    assert back.select(want.columns).exceptAll(want).count() == 0
    assert want.exceptAll(back.select(want.columns)).count() == 0
    micros = back.select("id", F.unix_micros("ts").alias("us")).collect()
    assert {r.id: r.us for r in micros} == {
        i: None if i % 10 == 0 else (i - 1500) * 86_400_000_123 for i in range(3000)
    }
