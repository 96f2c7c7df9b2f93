"""Seeded input generators. Everything here is a pure function of the seed;
the program under test only ever sees the files these functions write.

Writing goes through pyarrow, never Spark, so input generation does not warm
or load the engine that is being measured.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOPIC = "events"
N_PARTITIONS = 8
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
HOUR_US = 3_600_000_000


def _payload(rng: np.random.Generator, n: int) -> dict:
    user = rng.integers(0, 5_000, n)
    amount = rng.integers(1, 1_000_000, n)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    body = np.char.add(np.char.add(etype, ":u"), user.astype(str))
    return {"user_id": user, "event_type": etype, "amount": amount, "body": body}


def _envelope(partition, offset, ts_us, payload) -> pa.Table:
    ts = pa.array(ts_us.astype("datetime64[us]"))
    return pa.table({
        "topic": pa.array([TOPIC] * len(offset)),
        "partition": pa.array(partition.astype(np.int32)),
        "offset": pa.array(offset.astype(np.int64)),
        "timestamp": ts,
        "ts": ts,
        **{k: pa.array(v) for k, v in payload.items()},
    })


@dataclass
class Backlog:
    """What the generator knows about the records it wrote (the oracle)."""

    n_records: int
    first_offset: np.ndarray       # per Kafka partition
    next_offset: np.ndarray        # per Kafka partition: max offset + 1
    files: list[dict]              # per source file: {partition: (start, count)}
    row_by_key: dict               # (partition, offset) -> (user_id, amount)
    amount_by_partition: np.ndarray


def stream_backlog(seed: int, root: str, n_files: int, per_file: int) -> Backlog:
    """Envelope records as ``n_files`` parquet files of ``per_file`` records.

    Each file holds a contiguous block of ``per_file / N_PARTITIONS``
    offsets per Kafka partition, following on from the previous file's
    block, so replaying one file per micro-batch reproduces an in-order
    consumer. The seed moves the offsets and the payload, not the shape.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    per = per_file // N_PARTITIONS
    per_file = per * N_PARTITIONS
    part = np.repeat(np.arange(N_PARTITIONS), per)
    first = rng.integers(0, 1_000_000, N_PARTITIONS)
    nxt = first.copy()
    files, by_key = [], {}
    by_part = np.zeros(N_PARTITIONS, dtype=np.int64)
    for f in range(n_files):
        off = (nxt[:, None] + np.arange(per)).ravel()
        files.append({p: (int(nxt[p]), per) for p in range(N_PARTITIONS)})
        nxt += per
        ts = EPOCH_US + f * HOUR_US + rng.integers(0, HOUR_US, per_file)
        pay = _payload(rng, per_file)
        np.add.at(by_part, part, pay["amount"])
        by_key.update(zip(zip(part.tolist(), off.tolist()),
                          zip(pay["user_id"].tolist(), pay["amount"].tolist())))
        pq.write_table(_envelope(part, off, ts, pay), f"{root}/backlog-{f:05d}.parquet")
    return Backlog(n_files * per_file, first, nxt, files, by_key, by_part)


def expected_contract_files(backlog: Backlog, flush: int, ext: str = ".parquet") -> set:
    """Committed names one micro-batch per file must produce under
    DefaultPartitioner: per (file, partition) the offset block cut into
    ``flush``-record chunks, partial tail included (streaming keeps it)."""
    names = set()
    for blocks in backlog.files:
        for p, (start, count) in blocks.items():
            for s in range(start, start + count, flush):
                e = min(s + flush, start + count) - 1
                names.add(f"{TOPIC}+{p}+{s:010d}+{e:010d}{ext}")
    return names


@dataclass
class HourlyBacklog:
    n_records: int
    committed: int                 # records a discard-partial land keeps
    committed_by_hour: dict        # "YYYY-MM-DD HH" -> committed records
    checksum: int                  # sum(amount) + sum(len(body)) over committed
    committed_files: set           # offset-encoded names of the committed chunks


#: the busy hours of the 48-hour span
HOT_HOURS = (9, 10, 33)


def hourly_backlog(seed: int, path: str, hot: int, cold: int, flush: int,
                   hours: int = 48) -> HourlyBacklog:
    """One parquet file of envelope records over ``hours`` hours: each Kafka
    partition holds ``hot`` records in each of ``HOT_HOURS`` and ``cold`` in
    every other hour, in a seeded interleaving with contiguous offsets. The
    shape is fixed, so every seed lands the same amount of data; the seed
    moves offsets, timestamps and payload. Returns the closed-form result of
    landing it with ``flush``-record chunks and partial tails discarded."""
    rng = np.random.default_rng(seed)
    per_hour = np.full(hours, cold)
    per_hour[list(HOT_HOURS)] = hot
    hour = np.concatenate([
        rng.permutation(np.repeat(np.arange(hours), per_hour)) for _ in range(N_PARTITIONS)
    ])
    n_records = len(hour)
    per_part = int(per_hour.sum())
    part = np.repeat(np.arange(N_PARTITIONS), per_part)
    start = rng.integers(0, 1_000_000, N_PARTITIONS)
    off = np.concatenate([start[p] + np.arange(per_part) for p in range(N_PARTITIONS)])
    ts = EPOCH_US + hour * HOUR_US + rng.integers(0, HOUR_US, n_records)
    pay = _payload(rng, n_records)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(_envelope(part, off, ts, pay), path)

    # discard-partial close: per (partition, hour) the lowest offsets that
    # fill whole chunks are committed; rows are offset-sorted per group here
    key = part * hours + hour
    grp_order = np.lexsort((off, key))
    k_sorted = key[grp_order]
    bounds = np.flatnonzero(np.diff(k_sorted)) + 1
    starts = np.concatenate([[0], bounds])
    sizes = np.diff(np.concatenate([starts, [n_records]]))
    rank = np.arange(n_records) - np.repeat(starts, sizes)
    keep_sorted = rank < np.repeat(sizes // flush * flush, sizes)
    keep = np.zeros(n_records, dtype=bool)
    keep[grp_order] = keep_sorted
    off_sorted, part_sorted = off[grp_order], part[grp_order]
    chunk_first = keep_sorted & (rank % flush == 0)
    files = {
        f"{TOPIC}+{p}+{s:010d}+{e:010d}"
        for p, s, e in zip(part_sorted[chunk_first], off_sorted[chunk_first],
                           off_sorted[np.flatnonzero(chunk_first) + flush - 1])
    }
    by_hour = {}
    for h, c in zip(*np.unique(hour[keep], return_counts=True)):
        stamp = np.datetime64(EPOCH_US + int(h) * HOUR_US, "us").astype("datetime64[h]")
        by_hour[str(stamp).replace("T", " ")] = int(c)
    checksum = int(pay["amount"][keep].sum()) + int(np.char.str_len(pay["body"][keep]).sum())
    return HourlyBacklog(n_records, int(keep.sum()), by_hour, checksum, files)


VOCAB = np.array(
    "the stream query row key order table scan merge part window join slow agg "
    "column a vector fast small spark group customer line sort hash batch dup "
    "data filter value big".split()
)


def gate_tables(seed: int, sf_dir: str) -> None:
    """The three registry tables the gate sample reads (lineitem, events,
    documents), shaped like the sf0.001 tables of TESTDATA.md: same columns and
    types, same value domains, comparable row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)

    n = 6_000
    day = np.datetime64("1995-01-02", "D") + rng.integers(0, 2_498, n)
    pq.write_table(pa.table({
        "l_orderkey": rng.integers(0, 1_500, n),
        "l_partkey": rng.integers(0, 200, n),
        "l_suppkey": rng.integers(0, 10, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.integers(90_000, 10_500_000, n) / 100, 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(day.astype("datetime64[us]")),
    }), f"{sf_dir}/lineitem.parquet")

    n = 1_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        rng.integers(1, 5_184_000_000, n)
    ).astype("timedelta64[us]")
    pq.write_table(pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, 15, n),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": rng.integers(1, 49_000, n) / 100,
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    }), f"{sf_dir}/events.parquet")

    n = 500
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 100, n)]
    pq.write_table(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr", "es", "zh"])[rng.integers(0, 6, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{sf_dir}/documents.parquet")
