"""The three workloads. Each one has the same shape:

- ``setup``: write the seeded inputs (untimed by the pass, timed as set-up);
- ``warmup``: run the workload's code path once on a small input;
- ``run_pass``: one closed-loop pass of the timed work, returning a
  ``build_s`` phase (the work that produces data or frames) and an
  ``action_s`` phase (the work that consumes them);
- ``check``: output checks, outside every timed region;
- ``layers``: per-layer numbers from a traced pass.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import sys
import time
from contextlib import redirect_stdout

import gen
import harness as H


#: untimed full passes before the timed loop of the ingest workloads; the
#: per-pass time still fell by a quarter between the first and the second
#: timed pass after one
WARM_PASSES = 2


def install_layer_spans(tracer) -> None:
    """Wrap the package's layer entry points where callers look them up; the
    span names are the layer prefixes of the per-layer metrics."""
    from kafka_connect_hdfs_spark import contract_names, pipeline, sinks
    from kafka_connect_hdfs_spark.streaming import pipeline as spipe

    tracer.wrap(spipe, "start_ingest", "stream.start_ingest")
    for mod in (pipeline, contract_names):
        tracer.wrap(mod, "ingest_batch", "assign.ingest_batch")
    for mod in (pipeline, spipe):
        tracer.wrap(mod, "land", "pipeline.land")
    tracer.wrap(contract_names, "land_with_contract_names", "contract.land")
    tracer.wrap(
        contract_names, "_rename_chunks", "contract.rename",
        note=lambda sp, args: sp.attrs.update(files=len(args[2])),
    )
    for cls in (sinks.FormatSink, sinks.TextSink, sinks.PurePythonAvroSink):
        for meth in ("write", "read"):
            if meth in vars(cls):
                tracer.wrap(cls, meth, f"sink.{meth}")
    tracer.wrap(pipeline, "register_external_table", "catalog.register")


def ingest_layers(tracer, table, landed_bytes, landed_files, committed) -> dict:
    """contract.*, assign.*, sink.*, catalog.* from the spans of a pass."""
    t = tracer
    lwcn = t.named("contract.land")
    manifest_s, manifest_jobs = 0.0, 0
    for sp in lwcn:
        kids = {c.name: c for c in t.children(sp)}
        w, r = kids.get("sink.write"), kids.get("contract.rename")
        if w and r:
            manifest_s += r.start - w.end  # the manifest collect() sits between
        manifest_jobs += len(sp.jobs)
    renames = t.named("contract.rename")
    assign = t.named("assign.ingest_batch")
    writes = t.top("sink.write")
    reads = t.top("sink.read")

    def subtree_jobs(spans):
        ids = {s.sid for s in spans}
        grown = True
        while grown:
            grown = False
            for s in t.spans:
                if s.parent in ids and s.sid not in ids:
                    ids.add(s.sid)
                    grown = True
        return [j for s in t.spans if s.sid in ids for j in s.jobs]

    write_jobs = subtree_jobs(writes)
    ingest_jobs = write_jobs + [j for sp in lwcn for j in sp.jobs]
    window_shuffle = sum(
        st["shuffleWriteBytes"] for st in table.stages_of(ingest_jobs)
        if st["inputBytes"] > 0 and st["shuffleWriteBytes"] > 0
    )
    sink_st = table.totals(write_jobs)
    return {
        "contract.manifest_s": manifest_s,
        "contract.manifest_jobs": manifest_jobs,
        "contract.rename_s": sum(s.dur for s in renames),
        "contract.files_committed": sum(s.attrs.get("files", 0) for s in renames),
        "assign.jobs": sum(len(s.jobs) for s in assign),
        "assign.shuffle_write_bytes": window_shuffle,
        "assign.plan_s": sum(s.dur for s in assign),
        "sink.write_s": sum(s.dur for s in writes),
        "sink.read_s": sum(s.dur for s in reads),
        "sink.executor_run_ms": sink_st["executorRunTime"],
        "sink.executor_cpu_ms": sink_st["executorCpuTime"] / 1e6,
        "sink.bytes_written": landed_bytes,
        "sink.files_written": landed_files,
        "sink.mean_file_records": committed / landed_files if landed_files else 0.0,
        "catalog.register_s": sum(s.dur for s in t.named("catalog.register")),
    }


# ---------------------------------------------------------------------------


class StreamSmallFiles:
    """Replay a backlog one file per micro-batch through ``start_ingest``
    with offset-named files, register the table, then query it."""

    name = "stream_small_files"
    N_FILES = 2
    PER_FILE = 1_200
    FLUSH = 100
    N_QUERIES = 6
    PASS_S = 3.5  # seconds per warm pass on a quiet 4-vCPU VM

    def __init__(self, ctx):
        self.ctx = ctx
        self.src = f"{ctx.work}/stream/backlog"
        self.passes = []

    def setup(self):
        shutil.rmtree(self.src, ignore_errors=True)
        self.backlog = gen.stream_backlog(self.ctx.seed, self.src, self.N_FILES, self.PER_FILE)
        rng = gen.np.random.default_rng(self.ctx.seed + 1)
        b = self.backlog
        self.queries = []
        for i in range(self.N_QUERIES):
            p = int(rng.integers(0, gen.N_PARTITIONS))
            if i % 2:
                self.queries.append(("point", p, int(rng.integers(b.first_offset[p], b.next_offset[p]))))
            else:
                self.queries.append(("range", p, None))

    def warmup(self):
        """``WARM_PASSES`` full passes, not recorded: the first pass in a
        fresh JVM runs far slower, and the one after it still compiles."""
        for k in range(WARM_PASSES):
            self._ingest(self.src, f"{self.ctx.work}/stream/warm{k}")
            shutil.rmtree(f"{self.ctx.work}/stream/warm{k}", ignore_errors=True)

    def _cfg(self, base):
        from kafka_connect_hdfs_spark.config import HdfsSinkConfig

        return HdfsSinkConfig(
            url=f"file://{base}/landed", format="parquet",
            flush_size=self.FLUSH, partitioner="default",
        )

    def _ingest(self, src, base, tracer=None):
        from kafka_connect_hdfs_spark import pipeline
        from kafka_connect_hdfs_spark.streaming import pipeline as spipe

        spark = self.ctx.spark
        shutil.rmtree(base, ignore_errors=True)
        cfg = self._cfg(base)
        schema = spark.read.parquet(src).schema
        stream = spipe.file_replay_source(spark, src, schema, max_files_per_trigger=1)
        span = H.span_or_nothing(tracer)
        t0 = time.perf_counter()
        with span("stream.drain") as sp:
            if tracer:
                tracer.root = sp.sid
            q = spipe.start_ingest(
                spark, stream, cfg, gen.TOPIC, f"{base}/checkpoint",
                ts_col="ts", use_contract_names=True,
            )
            q.awaitTermination()  # raises if a micro-batch failed
            if tracer:
                tracer.root = None
        pipeline.register_external_table(
            spark, cfg, gen.TOPIC, ["partition"], f"{cfg.topics_path}/{gen.TOPIC}"
        )
        t1 = time.perf_counter()
        table = pipeline.table_name_for_topic(cfg, gen.TOPIC)
        qms, answers = [], []
        for kind, p, o in self.queries:
            s = time.perf_counter()
            with span("query"):
                answers.append((kind, p, o, self._query(table, kind, p, o)))
            qms.append((time.perf_counter() - s) * 1e3)
        t2 = time.perf_counter()
        batches = [
            pr for pr in q.recentProgress if pr is not None and pr["numInputRows"] > 0
        ]
        return {
            "cfg": cfg, "table": table,
            "build_s": t1 - t0, "action_s": t2 - t1,
            "batch_ms": [pr["durationMs"]["triggerExecution"] for pr in batches],
            "batches": batches,
            "query_ms": qms, "answers": answers,
            "input_rows": sum(pr["numInputRows"] for pr in batches),
        }

    def _query(self, table, kind, p, o):
        spark = self.ctx.spark
        if kind == "range":
            r = spark.sql(
                f"SELECT count(*) AS n, sum(amount) AS s FROM {table} WHERE `partition` = {p}"
            ).collect()
            return (r[0]["n"], r[0]["s"])
        r = spark.sql(
            f"SELECT user_id, amount FROM {table} WHERE `partition` = {p} AND `offset` = {o}"
        ).collect()
        return [(x["user_id"], x["amount"]) for x in r]

    def run_pass(self, k, tracer=None):
        res = self._ingest(self.src, f"{self.ctx.work}/stream/pass{k}", tracer=tracer)
        res["records"] = self.backlog.n_records
        self.passes.append(res)
        return res

    def check(self, failures):
        """Every pass's output, in one Spark job per check for all passes."""
        from functools import reduce

        from pyspark.sql import functions as F

        from kafka_connect_hdfs_spark.contract_names import (
            parse_committed_filename, read_committed,
        )
        from kafka_connect_hdfs_spark.operators.rotation import next_offset_per_partition

        spark, b, n = self.ctx.spark, self.backlog, self.backlog.n_records
        want_files = gen.expected_contract_files(b, self.FLUSH)
        want_next = {p: int(b.next_offset[p]) for p in range(gen.N_PARTITIONS)}
        rx = re.compile(r"^events\+(\d+)\+(\d{10})\+(\d{10})\.parquet$")

        def by_pass(frame_of, *agg):
            """``agg`` over every pass's frame at once, keyed by pass."""
            union = reduce(lambda a, c: a.unionByName(c), (
                frame_of(res).withColumn("pass", F.lit(k)) for k, res in enumerate(self.passes)
            ))
            return {r["pass"]: r for r in union.groupBy("pass").agg(*agg).collect()}

        committed = by_pass(
            lambda r: read_committed(spark, r["cfg"], gen.TOPIC),
            F.count("*").alias("n"), F.countDistinct("partition", "offset").alias("distinct"),
        )
        registered = by_pass(
            lambda r: spark.table(r["table"]).select("offset"), F.count("*").alias("n")
        )
        next_checked = set()
        for k, res in enumerate(self.passes):
            tag = f"stream pass {k}"
            row = committed.get(k)
            if row is None or row["n"] != n:
                failures.append(f"{tag}: read_committed count {row and row['n']} != {n}")
            if row is None or row["distinct"] != n:
                failures.append(f"{tag}: distinct (partition, offset) {row and row['distinct']} != {n}")
            root = f"{res['cfg'].topics_path.removeprefix('file://')}/{gen.TOPIC}"
            names, bad = set(), []
            for path in glob.glob(f"{root}/*/*"):
                d, f = os.path.basename(os.path.dirname(path)), os.path.basename(path)
                if f.startswith(".") or f.startswith("_"):
                    continue
                m = rx.match(f)
                if not m or d != f"partition={int(m.group(1))}":
                    bad.append(f"{d}/{f}")
                names.add(f)
            if bad:
                failures.append(f"{tag}: {len(bad)} files off the name contract, e.g. {bad[:2]}")
            if names != want_files:
                failures.append(
                    f"{tag}: committed names differ from the manifest "
                    f"({len(names - want_files)} extra, {len(want_files - names)} missing)"
                )
            if frozenset(names) not in next_checked:  # equal listings give equal offsets
                next_checked.add(frozenset(names))
                listing = spark.createDataFrame([(f,) for f in sorted(names)], "file_name string")
                nxt = next_offset_per_partition(
                    listing.select(*parse_committed_filename(F.col("file_name")))
                ).collect()
                if {r["partition"]: r["next_offset"] for r in nxt} != want_next:
                    failures.append(f"{tag}: next_offset_per_partition differs from the generator")
            row = registered.get(k)
            if row is None or row["n"] != n:
                failures.append(f"{tag}: registered table count {row and row['n']} != {n}")
            for kind, p, o, ans in res["answers"]:
                if kind == "range":
                    exp = (n // gen.N_PARTITIONS, int(b.amount_by_partition[p]))
                else:
                    exp = [b.row_by_key[(p, o)]]
                if ans != exp:
                    failures.append(f"{tag}: query {kind} p={p} o={o} gave {ans}, want {exp}")
                    break

    def ops(self):
        """(attempted, failed) operations: micro-batches, registrations and
        queries of every pass."""
        n = sum(len(r["batches"]) + 1 + len(r["query_ms"]) for r in self.passes)
        return n, 0

    def named_metrics(self, passes):
        batch = [x for r in passes for x in r["batch_ms"]]
        qms = [x for r in passes for x in r["query_ms"]]
        size, _ = H.dir_bytes_files(passes[-1]["cfg"].topics_path.removeprefix("file://"), ".parquet")
        return [
            ("ingest_records_per_s", H.median([r["records"] / r["build_s"] for r in passes]), "records/s", len(passes)),
            ("batch_ms_p50", H.percentile(batch, 50), "ms", len(batch)),
            ("batch_ms_p90", H.percentile(batch, 90), "ms", len(batch)),
            ("query_ms_p50", H.percentile(qms, 50), "ms", len(qms)),
            ("query_ms_p90", H.percentile(qms, 90), "ms", len(qms)),
            ("landed_bytes_per_record", size / self.backlog.n_records, "bytes", 1),
        ]

    def layers(self, tracer, table, res):
        size, files = H.dir_bytes_files(res["cfg"].topics_path.removeprefix("file://"), ".parquet")
        out = ingest_layers(tracer, table, size, files, res["records"])
        out["catalog.partitions"] = self.ctx.spark.sql(f"SHOW PARTITIONS {res['table']}").count()
        prog = self.ctx.listener.progress
        out["streaming.add_batch_ms"] = H.median([p["addBatch"] for p in prog])
        out["streaming.wal_commit_ms"] = H.median(
            [p.get("walCommit", 0) + p.get("commitOffsets", 0) for p in prog]
        )
        out["streaming.get_batch_ms"] = H.median([p.get("getBatch", 0) for p in prog])
        out["streaming.batches"] = len(prog)
        # above 1 when a batch's plan runs more than once (the manifest collect)
        out["streaming.input_rows_per_record"] = res["input_rows"] / res["records"]
        return out


# ---------------------------------------------------------------------------


class BulkAvroHourly:
    """One ``land`` call of a time-skewed backlog as Avro under the hourly
    partitioner, then a full read-back through the Avro sink."""

    name = "bulk_avro_hourly"
    HOT, COLD = 1_100, 15  # records per (Kafka partition, hour): 31,800 in all
    FLUSH = 500
    PASS_S = 3.5  # seconds per warm pass on a quiet 4-vCPU VM
    PROBE_FLUSH = 20

    def __init__(self, ctx):
        self.ctx = ctx
        self.src = f"{ctx.work}/bulk/backlog.parquet"
        self.passes = []
        self.probe_error = None

    def setup(self):
        self.backlog = gen.hourly_backlog(self.ctx.seed, self.src, self.HOT, self.COLD, self.FLUSH)

    def _cfg(self, base, flush):
        from kafka_connect_hdfs_spark.config import HdfsSinkConfig

        return HdfsSinkConfig(
            url=f"file://{base}", format="avro", flush_size=flush,
            partitioner="hourly", timezone="UTC",
        )

    def _land_and_read(self, src, base, flush, tracer=None):
        from pyspark.sql import functions as F

        from kafka_connect_hdfs_spark import pipeline, sinks

        spark = self.ctx.spark
        shutil.rmtree(base, ignore_errors=True)
        cfg = self._cfg(base, flush)
        df = spark.read.parquet(src)
        span = H.span_or_nothing(tracer)
        t0 = time.perf_counter()
        pipeline.land(spark, df, cfg, gen.TOPIC, ts_col="ts")
        t1 = time.perf_counter()
        with span("sink.read"):
            back = sinks.build_sink(cfg).read(spark, f"{cfg.topics_path}/{gen.TOPIC}")
            got = back.groupBy("year", "month", "day", "hour").agg(
                F.count("*").alias("n"),
                F.sum("amount").alias("amount"),
                F.sum(F.length("body")).alias("body_len"),
            ).collect()
        t2 = time.perf_counter()
        return {
            "cfg": cfg, "build_s": t1 - t0, "action_s": t2 - t1,
            "readback": got, "records": sum(r["n"] for r in got),
        }

    def warmup(self):
        """``WARM_PASSES`` full passes, not recorded (see the stream's)."""
        for k in range(WARM_PASSES):
            self._land_and_read(self.src, f"{self.ctx.work}/bulk/warm{k}", self.FLUSH)
            shutil.rmtree(f"{self.ctx.work}/bulk/warm{k}", ignore_errors=True)

    def run_pass(self, k, tracer=None):
        res = self._land_and_read(
            self.src, f"{self.ctx.work}/bulk/pass{k}", self.FLUSH, tracer
        )
        self.passes.append(res)
        return res

    def probe_contract_names(self):
        """Offset-named landing of a small slice with the hourly partitioner
        and 8 Kafka partitions. Chunk directories are keyed by the encoded
        partition only, so the Kafka partitions' chunks of one hour collide:
        the call either raises or commits files whose names disagree with
        their records. Either way the attempt counts as failed."""
        from kafka_connect_hdfs_spark.contract_names import land_with_contract_names
        from kafka_connect_hdfs_spark.formats.avro_io import read_container

        src = f"{self.ctx.work}/bulk/probe.parquet"
        want = gen.hourly_backlog(self.ctx.seed + 11, src, 70, 1, self.PROBE_FLUSH)
        base = f"{self.ctx.work}/bulk/probe"
        cfg = self._cfg(base, self.PROBE_FLUSH)
        try:
            land_with_contract_names(
                self.ctx.spark, self.ctx.spark.read.parquet(src), cfg, gen.TOPIC, ts_col="ts"
            )
        except Exception as e:  # the failure is the finding; report it
            self.probe_error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            return
        files = glob.glob(f"{base}/topics/{gen.TOPIC}/**/*.avro", recursive=True)
        names = {os.path.basename(f).removesuffix(".avro") for f in files}
        mislabelled = 0
        for f in files:
            _, p, s, e = os.path.basename(f).removesuffix(".avro").split("+")
            recs = read_container(f)[1]
            if any(r["partition"] != int(p) or not int(s) <= r["offset"] <= int(e) for r in recs):
                mislabelled += 1
        if names != want.committed_files or mislabelled:
            self.probe_error = (
                f"{len(names)} committed files for {len(want.committed_files)} expected chunks; "
                f"{mislabelled} hold records outside their name's partition or offset range"
            )

    def check(self, failures):
        b = self.backlog
        for k, res in enumerate(self.passes):
            tag, rows = f"bulk pass {k} read-back", res["readback"]
            n = sum(r["n"] for r in rows)
            if n != b.committed:
                failures.append(f"{tag}: count {n} != {b.committed}")
            by_hour = {f"{r['year']}-{r['month']}-{r['day']} {r['hour']}": r["n"] for r in rows}
            if by_hour != b.committed_by_hour:
                failures.append(f"{tag}: per-hour counts differ from the closed form")
            checksum = sum(r["amount"] + r["body_len"] for r in rows)
            if checksum != b.checksum:
                failures.append(f"{tag}: payload checksum {checksum} != {b.checksum}")
        self.probe_contract_names()

    def ops(self):
        """Every land and every read-back, plus the contract-name probe."""
        return 2 * len(self.passes) + 1, int(self.probe_error is not None)

    def named_metrics(self, passes):
        size, _ = H.dir_bytes_files(passes[-1]["cfg"].topics_path.removeprefix("file://"), ".avro")
        return [
            ("ingest_records_per_s", H.median([r["records"] / r["build_s"] for r in passes]), "records/s", len(passes)),
            ("readback_records_per_s", H.median([r["records"] / r["action_s"] for r in passes]), "records/s", len(passes)),
            ("landed_bytes_per_record", size / self.backlog.n_records, "bytes", 1),
        ]

    def layers(self, tracer, table, res):
        size, files = H.dir_bytes_files(res["cfg"].topics_path.removeprefix("file://"), ".avro")
        return ingest_layers(tracer, table, size, files, res["records"])


# ---------------------------------------------------------------------------


#: One gate per query-surface lever: the one-construction-job floor, the
#: shingle pipeline and label propagation (construction-job heavy).
GATES = ("q1_pricing_summary", "dedup_ngram_jaccard", "graph_lpa_communities")


def _oracle_module(root):
    """``scripts/oracle_check.py`` imported as it is; its compare() is the
    repository's Spark-versus-DuckDB comparison."""
    import importlib.util

    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_check", os.path.join(root, "scripts", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = saved  # it prepends a path of its own on import
    return mod


class GateSample:
    """A sample of registry gates, built through ``queries()`` and counted."""

    name = "gate_sample"
    PASS_S = 6.0  # seconds per warm pass on a quiet 4-vCPU VM

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = f"{ctx.work}/gates/sf"
        self.passes = []

    #: the gate tables are the same for every seed, like the registry's own
    #: fixed tables; the seed permutes the gate order
    DATA_SEED = 0

    def setup(self):
        import __spark_entry__ as entry

        gen.gate_tables(self.DATA_SEED, self.sf)
        self.registry = entry.queries()
        order = gen.np.random.default_rng(self.ctx.seed).permutation(len(GATES))
        self.order = [GATES[i] for i in order]

    def warmup(self):
        """First pass, collected in full: warms every gate's code path and
        keeps the rows for the oracle comparison in ``check``."""
        self.warm_rows = {}
        for g in self.order:
            self.warm_rows[g] = self.registry[g](self.ctx.spark, self.sf).toPandas()

    def run_pass(self, k, tracer=None):
        spark = self.ctx.spark
        span = H.span_or_nothing(tracer)
        res = {"build": {}, "action": {}, "count": {}}
        for g in self.order:
            t0 = time.perf_counter()
            with span("gate.build", gate=g):
                df = self.registry[g](spark, self.sf)
            t1 = time.perf_counter()
            with span("gate.action", gate=g):
                res["count"][g] = df.count()
            t2 = time.perf_counter()
            res["build"][g], res["action"][g] = t1 - t0, t2 - t1
        res["build_s"] = sum(res["build"].values())
        res["action_s"] = sum(res["action"].values())
        self.passes.append(res)
        return res

    def check(self, failures):
        import duckdb

        import __spark_entry__ as entry

        oracle = _oracle_module(self.ctx.root)
        sql = entry.oracle_sql()
        con = duckdb.connect()
        for t in ("lineitem", "events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        for g in self.order:
            want = con.execute(sql[g]).fetchdf()
            with redirect_stdout(sys.stderr):
                ok = oracle.compare(g, self.warm_rows[g], want)
            if not ok:
                failures.append(f"gate {g}: differs from its DuckDB oracle")
            for k, res in enumerate(self.passes):
                if res["count"][g] != len(want):
                    failures.append(
                        f"gate {g} pass {k}: count {res['count'][g]} != oracle rows {len(want)}"
                    )
        con.close()

    def ops(self):
        return len(GATES) * (len(self.passes) + 1), 0

    def named_metrics(self, passes):
        return [
            ("gate_sample_s", H.median([r["build_s"] + r["action_s"] for r in passes]), "s", len(passes)),
        ]

    def layers(self, tracer, table, res):
        out = {}
        for kind in ("build", "action"):
            spans = tracer.named(f"gate.{kind}")
            out[f"gates.{kind}_s"] = sum(s.dur for s in spans)
            out[f"gates.{kind}_jobs"] = sum(len(s.jobs) for s in spans)
            for s in spans:
                g = s.attrs["gate"]
                out[f"gate.{g}.{kind}_s"] = s.dur
                out[f"gate.{g}.{kind}_jobs"] = len(s.jobs)
        return out


WORKLOADS = {w.name: w for w in (StreamSmallFiles, BulkAvroHourly, GateSample)}
