"""Format writers O1-O4 and schema file readers O5 (SURVEY.md §2.6).

Reference:
  - O1 Avro: avro/AvroRecordWriterProvider.java:50-103 (codec from
    ``avro.codec``; schema bound at first record per file).
  - O2 Parquet: parquet/ParquetRecordWriterProvider.java:53-105 (SNAPPY,
    256 MB row group, 64 KB page, dictionary on).
  - O3 JSON: json/JsonRecordWriterProvider.java:68-114 (one object per line).
  - O4 String/text: string/StringRecordWriterProvider.java:59-97
    (value.toString per line, ``.txt``).
  - O5 schema readers: avro/AvroFileReader.java:42-53,
    parquet/ParquetFileReader.java:39-55 — recover the latest schema from the
    newest committed file.
  - O6 plug-in registry: reflective Format loading
    (DataWriter.java:228-277) becomes a plain dict of strategies.

Spark-first: each sink is ``df.write.format(...)`` with the reference's
profile defaults. The write is partitioned by the partitioner's columns so
Catalyst prunes on read; Avro needs the built-in ``avro`` format (Spark 4
bundles spark-avro in our image — gated with a runtime check anyway).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.config import HdfsSinkConfig


@dataclass
class FormatSink:
    format: str           # spark datasource name
    extension: str        # reference file extension
    options: dict

    def write(self, df: DataFrame, path: str, partition_by: list[str], mode: str = "append") -> None:
        writer = df.write.mode(mode).options(**self.options)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.format(self.format).save(path)

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        # write-side options ride along: harmless for footer formats, and
        # csv needs header/timestampFormat symmetric on both sides
        return spark.read.format(self.format).options(**self.options).load(path)

    def schema_of(self, spark: SparkSession, path: str):
        """O5 — the landed schema (Catalyst reads footer/container header)."""
        return self.read(spark, path).schema


class TextSink(FormatSink):
    """O4 — value.toString, one per line (StringRecordWriterProvider.java:59-97).

    Multi-column frames are serialized to one JSON line per record (the
    closest faithful "toString" for structured values); a lone string
    ``value`` column passes through verbatim.
    """

    def write(self, df: DataFrame, path: str, partition_by: list[str], mode: str = "append") -> None:
        payload_cols = [c for c in df.columns if c not in partition_by]
        if payload_cols == ["value"] and dict(df.dtypes)["value"] == "string":
            line = F.col("value")
        else:
            line = F.to_json(F.struct(*payload_cols)).alias("value")
        out = df.select(*partition_by, line.alias("value"))
        w = out.write.mode(mode).options(**self.options)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format("text").save(path)


#: cached result of the one-time JVM avro datasource probe (None = not probed)
_JVM_AVRO_AVAILABLE: bool | None = None


def jvm_avro_available(spark: SparkSession) -> bool:
    """Probe once for the JVM ``avro`` datasource (spark-avro). On clusters
    that bundle it the codegen JVM writer/reader is strictly better than the
    pure-Python codec; this container lacks it, so the probe fails fast."""
    global _JVM_AVRO_AVAILABLE
    if _JVM_AVRO_AVAILABLE is None:
        try:
            # datasource present → listing fails with PATH_NOT_FOUND;
            # datasource absent → FAILED_FIND_DATA_SOURCE before listing
            spark.read.format("avro").schema("value string").load(
                "/nonexistent-kchs-avro-probe"
            )
            _JVM_AVRO_AVAILABLE = True
        except Exception as e:
            msg = str(e)
            _JVM_AVRO_AVAILABLE = (
                "PATH_NOT_FOUND" in msg or "Path does not exist" in msg
            )
    return _JVM_AVRO_AVAILABLE


def _committed_sort_key(path: str):
    """Order candidates the way the reference bootstraps the current schema:
    by committed END OFFSET parsed from the contract filename
    (FileUtils.fileStatusWithMaxOffset, TopicPartitionWriter.java:334-350),
    falling back to mtime for non-contract names."""
    import os
    import re

    m = re.match(r"^.+\+\d+\+\d+\+(\d+)\.[a-z]+$", os.path.basename(path))
    if m:
        return (1, int(m.group(1)), 0.0, path)
    return (0, 0, os.path.getmtime(path), path)


def _partition_runs(batch, cols):
    """(start, end, key) of each run of rows with equal ``cols`` values in an
    Arrow batch (one run for the whole batch when ``cols`` is empty)."""
    from kafka_connect_hdfs_spark.formats.avro_io import _pylist

    if cols:
        keys = zip(*(_pylist(batch.column(c)) for c in cols))
    else:
        keys = itertools.repeat((), batch.num_rows)
    a = 0
    for k, run in itertools.groupby(keys):
        b = a + sum(1 for _ in run)
        yield a, b, k
        a = b


class PurePythonAvroSink(FormatSink):
    """O1/O5 without spark-avro: lands genuine Avro Object Container Files
    via the dependency-free codec in formats/avro_io.py (container spec:
    avro/AvroRecordWriterProvider.java:50-103; schema read-back:
    avro/AvroFileReader.java:42-53).

    Files are written per Spark partition on the executors, from Arrow
    batches in one ``mapInArrow`` pass — no driver collect. Hive-style
    partition dirs are grouped within each task, mirroring the reference's
    one-writer-per-encodedPartition layout (TopicPartitionWriter.getWriter).
    Every write call stamps a fresh run id into its filenames, so appending
    a second batch never overwrites committed files. Reads decode
    executor-side into Arrow batches, also through ``mapInArrow``.

    When the JVM ``avro`` datasource is present (real cluster), write/read
    delegate to it instead — same layout, codegen speed.
    """

    def write(self, df: DataFrame, path: str, partition_by: list[str], mode: str = "append") -> None:
        import glob as _glob
        import os
        import uuid

        from kafka_connect_hdfs_spark.formats.avro_io import struct_to_avro_schema

        if mode not in ("append", "overwrite"):
            raise ValueError(f"avro sink supports append/overwrite, got {mode!r}")
        if jvm_avro_available(df.sparkSession):
            return FormatSink.write(self, df, path, partition_by, mode)

        local = path.removeprefix("file://")
        if mode == "overwrite" and os.path.isdir(local):
            for fp in _glob.glob(os.path.join(local, "**", "*.avro"), recursive=True):
                os.remove(fp)
        codec = self.options.get("compression", "null")
        if codec == "uncompressed":  # spark-avro's alias for the null codec
            codec = "null"
        if codec not in ("null", "deflate", "snappy", "bzip2"):
            # The full reference codec enumeration
            # (avro/AvroRecordWriterProvider.java:69) is supported
            # natively since r11 (snappy via the pure-Python block codec
            # in formats.avro_io). Anything else: never downgrade
            # silently — fail by default, warn-and-downgrade only on
            # explicit opt-in.
            if self.options.get("allowCodecFallback", False):
                import warnings

                warnings.warn(
                    f"avro codec {codec!r} unavailable in the pure-Python "
                    "writer; falling back to 'null' (allowCodecFallback "
                    "set). Use the JVM spark-avro datasource for "
                    f"{codec!r} on a real cluster.",
                    stacklevel=2,
                )
                codec = "null"
            else:
                raise ValueError(
                    f"avro codec {codec!r} is not supported by the "
                    "pure-Python fallback writer (only null/deflate/bzip2). "
                    "Install spark-avro for native codecs, or pass "
                    "allowCodecFallback=True to downgrade to 'null'."
                )
        payload_fields = [f for f in df.schema.fields if f.name not in partition_by]
        # NonRecordContainer unwrap (avro/AvroRecordWriterProvider.java:79-85):
        # a bare-primitive value stream lands with a primitive container
        # schema, not a one-field record
        unwrap = (
            self.options.get("unwrapPrimitives", True)
            and len(payload_fields) == 1
            and payload_fields[0].name == "value"
            and not payload_fields[0].dataType.typeName() == "struct"
        )
        if unwrap:
            from kafka_connect_hdfs_spark.formats.avro_io import _avro_type

            f0 = payload_fields[0]
            avro_schema = (
                ["null", _avro_type(f0.dataType)] if f0.nullable else _avro_type(f0.dataType)
            )
        else:
            avro_schema = struct_to_avro_schema(
                type(df.schema)(payload_fields), name="spark_record"
            )
        pcols = list(partition_by)
        run_id = uuid.uuid4().hex[:8]  # unique per write call — appends never collide

        if pcols:
            df = df.repartition(*[F.col(c) for c in pcols]).sortWithinPartitions(
                *[F.col(c) for c in pcols]
            )

        def write_part(batches):
            import pyarrow as pa
            from pyspark import TaskContext

            from kafka_connect_hdfs_spark.formats.avro_io import ContainerWriter, RecordCodec

            rc = RecordCodec(avro_schema)
            name = f"part-{TaskContext.get().partitionId():05d}-{run_id}.avro"
            writer, key, n = None, None, 0
            try:
                for batch in batches:
                    data, offsets = rc.encode(
                        [batch.column(c) for c in rc.names], batch.num_rows
                    )
                    for a, b, k in _partition_runs(batch, pcols):
                        if writer is None or k != key:
                            if writer is not None:
                                writer.close()
                            d = os.path.join(local, *[f"{c}={v}" for c, v in zip(pcols, k)])
                            os.makedirs(d, exist_ok=True)
                            writer = ContainerWriter(os.path.join(d, name), avro_schema, codec)
                            key = k
                        writer.append(data, offsets[a:b + 1])
                        n += b - a
                if writer is None and not pcols:
                    # an empty partition still lands its (header-only) file
                    writer = ContainerWriter(os.path.join(local, name), avro_schema, codec)
            finally:
                if writer is not None:
                    writer.close()
            yield pa.RecordBatch.from_pydict({"n": [n]})

        os.makedirs(local, exist_ok=True)
        df.mapInArrow(write_part, "n long").collect()

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        """Distributed decode: the driver only globs file names and reads ONE
        container header for the schema; record decode runs executor-side
        (one ``mapInArrow`` task per slice of the file list, each file
        decoded to Arrow columns), so a 100 TB landing zone never funnels
        through the driver."""
        import glob as _glob
        import os

        from pyspark.sql.pandas.types import to_arrow_schema

        from kafka_connect_hdfs_spark.formats.avro_io import avro_to_struct, read_schema

        if jvm_avro_available(spark):
            return FormatSink.read(self, spark, path)

        local = path.removeprefix("file://")
        files = sorted(_glob.glob(os.path.join(local, "**", "*.avro"), recursive=True))
        if not files:
            raise FileNotFoundError(f"no .avro files under {path}")
        struct = avro_to_struct(read_schema(files[0]))

        # hive-style partition values come from dir names (driver-side: names only)
        tasks = []
        part_keys: set[str] = set()
        for fp in files:
            rel = os.path.relpath(os.path.dirname(fp), local)
            pvals = dict(
                seg.split("=", 1) for seg in rel.split(os.sep) if "=" in seg
            )
            part_keys.update(pvals)
            tasks.append((fp, pvals))

        from pyspark.sql import types as T

        out_struct = struct
        for c in sorted(part_keys - set(struct.fieldNames())):
            out_struct = out_struct.add(T.StructField(c, T.StringType(), True))
        out_schema = to_arrow_schema(out_struct)

        def decode(batches):
            import pyarrow as pa

            from kafka_connect_hdfs_spark.formats.avro_io import read_batch

            for ids in batches:
                for i in ids.column(0).to_pylist():
                    fp, pvals = tasks[i]
                    rb = read_batch(fp)[1]
                    n = rb.num_rows
                    if not n:
                        continue
                    cols = []
                    for f in out_schema:
                        if f.name in pvals:  # the dir value wins, as in hive layouts
                            col = pa.repeat(pa.scalar(pvals[f.name], pa.string()), n)
                        elif f.name in rb.schema.names:
                            col = rb.column(f.name)
                        else:  # a field this file's schema lacks
                            col = pa.nulls(n, f.type)
                        cols.append(col if col.type == f.type else col.cast(f.type))
                    yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

        k = max(1, min(len(tasks), spark.sparkContext.defaultParallelism))
        return spark.range(0, len(tasks), 1, k).mapInArrow(decode, out_struct)

    def schema_of(self, spark: SparkSession, path: str):
        """Reference semantics: schema of the file with the MAX COMMITTED
        OFFSET (FileUtils.fileStatusWithMaxOffset, TopicPartitionWriter.java
        :334-350) — contract-named files sort by end offset; mtime is only
        the fallback for non-contract names. Header-only read."""
        import glob as _glob
        import os

        from kafka_connect_hdfs_spark.formats.avro_io import (
            avro_to_struct, read_schema,
        )

        if jvm_avro_available(spark):
            return FormatSink.schema_of(self, spark, path)

        local = path.removeprefix("file://")
        files = sorted(
            _glob.glob(os.path.join(local, "**", "*.avro"), recursive=True),
            key=_committed_sort_key,
        )
        return avro_to_struct(read_schema(files[-1]))


def build_sink(cfg: HdfsSinkConfig) -> FormatSink:
    """O6 — format registry (reflective loading → plain dict)."""
    registry = {
        "parquet": FormatSink(
            "parquet",
            ".parquet",
            {
                "compression": cfg.parquet_codec,
                # reference row-group/page sizing, ParquetRecordWriterProvider.java:54-56
                "parquet.block.size": str(256 * 1024 * 1024),
                "parquet.page.size": str(64 * 1024),
            },
        ),
        # pure-Python container writer — works without spark-avro; on a
        # cluster with the JVM avro datasource, swap to
        # FormatSink("avro", ".avro", {...}) for codegen-speed writes
        "avro": PurePythonAvroSink(
            "avro",
            ".avro",
            {"compression": "uncompressed" if cfg.avro_codec in ("null", "") else cfg.avro_codec},
        ),
        "orc": FormatSink(
            "orc",
            ".orc",
            # ORC profile mirrors the parquet one: snappy + dictionary on
            {"compression": "snappy"},
        ),
        "json": FormatSink("json", ".json", {}),
        # header-on, explicit non-localized timestamp format so files are
        # self-describing and re-parse identically on read-back
        "csv": FormatSink(
            "csv",
            ".csv",
            {"header": "true", "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"},
        ),
        "text": TextSink("text", ".txt", {}),
    }
    return registry[cfg.format]
