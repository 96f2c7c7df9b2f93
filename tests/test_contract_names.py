"""On-disk offset-encoded filename contract — the reference's committed-file
verification pattern (TestWithMiniDFSCluster.verify :266-359: list files,
compare names to expected offset ranges, read back, compare records)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.config import HdfsSinkConfig
from kafka_connect_hdfs_spark.contract_names import (
    land_with_contract_names,
    parse_committed_filename,
    read_committed,
)
from kafka_connect_hdfs_spark.sources import events_as_kafka_records


@pytest.fixture()
def records(spark, sf_dir):
    from kafka_connect_hdfs_spark.session import load_table

    return events_as_kafka_records(load_table(spark, sf_dir, "events"))


def test_contract_names_on_disk(spark, records, tmp_path):
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}", format="parquet", flush_size=100,
        partitioner="default",
    )
    res = land_with_contract_names(spark, records, cfg, topic="events", ts_col="ts")
    expected = {
        (r["encodedPartition"], r["file_name"]) for r in res.manifest.collect()
    }
    on_disk = set()
    for p in glob.glob(f"{tmp_path}/topics/events/partition=*/*.parquet"):
        on_disk.add((os.path.basename(os.path.dirname(p)), os.path.basename(p)))
    assert on_disk == expected
    # no stray chunk dirs or part files
    assert not glob.glob(f"{tmp_path}/topics/events/partition=*/chunk=*")
    assert not glob.glob(f"{tmp_path}/topics/events/partition=*/part-*")

    # read-back: committed records only, contents match the manifest ranges
    back = read_committed(spark, cfg, "events")
    assert back.count() == sum(r["record_count"] for r in res.manifest.collect())

    # every filename parses back to its offset range
    files = spark.createDataFrame(
        [(f,) for _, f in on_disk], "file_name string"
    ).select(*parse_committed_filename(F.col("file_name")))
    parsed = {(r.partition, r.start_offset, r.end_offset) for r in files.collect()}
    want = {
        (r["partition"], r["start_offset"], r["end_offset"])
        for r in res.manifest.collect()
    }
    assert parsed == want


def test_streaming_with_contract_names(spark, records, tmp_path, sf_dir):
    """Full streaming path with offset-encoded filenames — every landed file
    matches the reference pattern and offsets are exactly-once."""
    from kafka_connect_hdfs_spark.session import load_table
    from kafka_connect_hdfs_spark.streaming.pipeline import (
        file_replay_source, start_ingest,
    )

    events = load_table(spark, sf_dir, "events")
    src_dir = f"{tmp_path}/src"
    events.repartition(3).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}/landed", format="parquet", flush_size=100
    )
    stream = file_replay_source(spark, src_dir, schema, max_files_per_trigger=1)
    q = start_ingest(
        spark, stream, cfg, topic="events", checkpoint_dir=f"{tmp_path}/chk",
        ts_col="ts", transform=lambda df: events_as_kafka_records(df),
        use_contract_names=True,
    )
    q.awaitTermination(120)
    files = glob.glob(f"{tmp_path}/landed/topics/events/partition=*/*.parquet")
    assert files
    import re

    rx = re.compile(r"^events\+\d+\+\d{10}\+\d{10}\.parquet$")
    assert all(rx.match(os.path.basename(f)) for f in files), files[:3]
    back = read_committed(spark, cfg, "events")
    assert back.count() == events.count()
    assert back.select("offset").distinct().count() == events.count()


def test_contract_names_replay_idempotent(spark, records, tmp_path):
    """Re-landing the same batch must not duplicate or rename-clash —
    the idempotent-redo property of WAL recovery (FSWAL.apply,
    wal/FSWAL.java:100-135)."""
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}", format="parquet", flush_size=100,
    )
    land_with_contract_names(spark, records, cfg, topic="events", ts_col="ts")
    first = sorted(glob.glob(f"{tmp_path}/topics/events/partition=*/*.parquet"))
    n_first = read_committed(spark, cfg, "events").count()
    land_with_contract_names(spark, records, cfg, topic="events", ts_col="ts")
    second = sorted(glob.glob(f"{tmp_path}/topics/events/partition=*/*.parquet"))
    assert first == second
    assert read_committed(spark, cfg, "events").count() == n_first


def test_hourly_contract_names_keep_kafka_partitions_apart(spark, tmp_path):
    """Under a time partitioner every Kafka partition's chunk N of one hour
    shares the hour directory; each committed file must still hold exactly
    its own chunk: the names equal the manifest and every record falls in
    its name's partition and offset range."""
    from kafka_connect_hdfs_spark.formats.avro_io import read_container

    # 8 Kafka partitions x 60 offsets spread over 3 hours
    records = spark.range(480).select(
        F.lit("events").alias("topic"),
        (F.col("id") % 8).cast("int").alias("partition"),
        (F.col("id") / 8).cast("long").alias("offset"),
        F.timestamp_seconds(F.lit(1_704_067_200) + (F.col("id") / 8).cast("long") * 180)
        .alias("ts"),
        F.col("id").alias("payload"),
    )
    cfg = HdfsSinkConfig(
        url=f"file://{tmp_path}", format="avro", flush_size=7,
        partitioner="hourly", timezone="UTC",
    )
    res = land_with_contract_names(spark, records, cfg, topic="events", ts_col="ts")
    manifest = {r["file_name"]: r for r in res.manifest.collect()}
    files = glob.glob(f"{tmp_path}/topics/events/**/*.avro", recursive=True)
    assert {os.path.basename(f) for f in files} == set(manifest)
    assert len(files) == len(manifest)
    for f in files:
        row = manifest[os.path.basename(f)]
        recs = read_container(f)[1]
        assert len(recs) == row["record_count"]
        assert {r["partition"] for r in recs} == {row["partition"]}
        assert all(row["start_offset"] <= r["offset"] <= row["end_offset"] for r in recs)
