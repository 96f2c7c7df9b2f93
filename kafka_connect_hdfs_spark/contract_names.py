"""Offset-encoded filenames ON DISK — the reference's committed-file contract.

The reference names every committed file ``<topic>+<partition>+<start>+<end>
.<ext>`` (FileUtils.committedFileName, FileUtils.java:77-100) and uses those
names as the exactly-once source of truth (offset recovery scans them,
FileUtils.java:106-140). Spark's file sink controls its own part names, so
this module adds the one custom step SURVEY.md §4 calls out: write each chunk
as exactly one file, then rename to the contract name.

Mechanics:
  1. ``ingest_batch`` assigns (partition dir, chunk, offset range).
  2. repartition by (kafkaPartition, encodedPartition, chunk) — each chunk's
     rows land in ONE task ⇒ exactly one part-file per chunk dir when
     written with ``partitionBy(..., "chunk")``. The chunk dir is keyed by
     (kafkaPartition, chunk), ``chunk=<p>_<n>``: chunk numbers restart per
     Kafka partition, and under a time partitioner the partitions' chunks of
     one encoded partition share its directory.
  3. driver renames ``.../chunk=<p>_<n>/part-*.ext`` → ``../<contract name>`` via
     the Hadoop FileSystem API (the same atomic rename the reference's
     commitFile uses, HdfsStorage.java:151-164) and drops the chunk dirs.

Scale: the renames are pure NameNode metadata ops, one per committed file —
identical cost to the reference's own commit path. The data itself moves
once (the chunk repartition IS the write shuffle).

Idempotence: re-running a batch reproduces identical chunk assignments and
identical target names; rename-over-existing is skipped, so replays converge
(same property the reference gets from offset-encoded names, SURVEY.md §3.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.pipeline import IngestResult, ingest_batch
from kafka_connect_hdfs_spark.sinks import build_sink


def land_with_contract_names(
    spark: SparkSession,
    df: DataFrame,
    cfg: HdfsSinkConfig,
    topic: str,
    ts_col: str = "ts",
    discard_partial: bool = True,
) -> IngestResult:
    """Land records with reference-contract filenames on disk.

    Returns the IngestResult whose manifest rows name exactly the files now
    present under ``<topics.dir>/<topic>/<encodedPartition>/``.
    """
    res = ingest_batch(df, cfg, topic, ts_col=ts_col, discard_partial=discard_partial)
    sink = build_sink(cfg)
    path = f"{cfg.topics_path}/{topic}"

    part_cols = res.partition_columns
    out = (
        res.data.repartition(
            F.col("partition"), F.col("encodedPartition"), F.col("chunk")
        )
        .withColumn(
            "chunk",
            F.concat_ws("_", F.col("partition").cast("string"), F.col("chunk").cast("string")),
        )
        .drop("encodedPartition")
    )
    sink.write(out, path, part_cols + ["chunk"], mode="append")

    # driver-side rename pass: chunk dirs -> contract names (metadata only)
    manifest_rows = res.manifest.collect()
    _rename_chunks(spark, path, manifest_rows, part_cols, sink.extension)
    return res


def _rename_chunks(spark, base_path, manifest_rows, part_cols, ext) -> None:
    jvm = spark._jvm
    jsc = spark._jsc
    conf = jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(base_path).getFileSystem(conf)

    for row in manifest_rows:
        dir_path = f"{base_path}/{row['encodedPartition']}"
        chunk_dir = Path(f"{dir_path}/chunk={row['partition']}_{row['chunk']}")
        target = Path(f"{dir_path}/{row['file_name']}")
        if not fs.exists(chunk_dir):
            continue
        files = [
            f.getPath()
            for f in fs.listStatus(chunk_dir)
            if f.getPath().getName().startswith("part-")
        ]
        if not files:
            fs.delete(chunk_dir, True)
            continue
        if len(files) != 1:
            raise RuntimeError(
                f"chunk {chunk_dir} produced {len(files)} files; expected 1 "
                "(repartition on chunk key violated?)"
            )
        if fs.exists(target):
            fs.delete(files[0], False)  # replay: identical content already committed
        else:
            fs.rename(files[0], target)
        fs.delete(chunk_dir, True)


def read_committed(spark: SparkSession, cfg: HdfsSinkConfig, topic: str) -> DataFrame:
    """Read back only contract-named committed files (the reference's
    CommittedFileFilter semantics, filter/CommittedFileFilterTest.java)."""
    sink = build_sink(cfg)
    path = f"{cfg.topics_path}/{topic}"
    return (
        spark.read.format(sink.format)
        .option("pathGlobFilter", f"*+*+*+*{sink.extension}")
        .option("recursiveFileLookup", "false")
        .load(path)
    )


def parse_committed_filename(name_col: F.Column) -> list[F.Column]:
    """Decode ``topic+partition+start+end.ext`` back into columns
    (CommittedFileFilter regex, HdfsSinkConnectorConstants.java:25-27) —
    the read side of offset recovery."""
    rx = r"^(.+)\+(\d+)\+(\d+)\+(\d+)\.[a-z]+$"
    return [
        F.regexp_extract(name_col, rx, 1).alias("topic"),
        F.regexp_extract(name_col, rx, 2).cast("int").alias("partition"),
        F.regexp_extract(name_col, rx, 3).cast("bigint").alias("start_offset"),
        F.regexp_extract(name_col, rx, 4).cast("bigint").alias("end_offset"),
    ]
