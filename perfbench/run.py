"""Repository benchmark: the paper's ingest dataflow and a registry-gate sample.

Usage (from the repository root):

    python3 perfbench/run.py --workload stream_small_files --seed 1 --seconds 10 --trace 0

Workloads: stream_small_files, bulk_avro_hourly, gate_sample (see
perfbench/README.md). With ``--trace 0`` the last stdout line is a JSON
object carrying the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics of a separate traced pass, and the spans are written to
``.perfbench_work/traces/``. Every input is generated from ``--seed``; all
files the run writes stay under ``.perfbench_work/`` in the current
directory, which is removed at exit except for the traces.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

import harness as H
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = os.cpu_count() or 4

#: gated end-to-end metrics; every workload reports both, never zero. The
#: pass is gated on its CPU time, not its wall time: on a shared host the
#: wall time of a stream pass doubled for minutes at a time while the host
#: stole a fifth of the vCPU time, which CPU time is not charged for
END_TO_END = (("setup_s", "s"), ("pass_cpu_s", "s"))

PER_LAYER = (
    [
        ("streaming.add_batch_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
        ("streaming.get_batch_ms", "ms"), ("streaming.batches", "count"),
        ("streaming.input_rows_per_record", "x"),
        ("contract.manifest_s", "s"), ("contract.manifest_jobs", "count"),
        ("contract.rename_s", "s"), ("contract.files_committed", "count"),
        ("assign.jobs", "count"), ("assign.shuffle_write_bytes", "bytes"),
        ("assign.plan_s", "s"),
        ("sink.write_s", "s"), ("sink.read_s", "s"), ("sink.executor_run_ms", "ms"),
        ("sink.executor_cpu_ms", "ms"), ("sink.bytes_written", "bytes"),
        ("sink.files_written", "count"), ("sink.mean_file_records", "records"),
        ("catalog.register_s", "s"), ("catalog.partitions", "count"),
        ("gates.build_s", "s"), ("gates.build_jobs", "count"),
        ("gates.action_s", "s"), ("gates.action_jobs", "count"),
    ]
    + [
        (f"gate.{g}.{m}", "s" if m.endswith("_s") else "count")
        for g in W.GATES
        for m in ("build_s", "action_s", "build_jobs", "action_jobs")
    ]
    + [
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"),
        ("trace.overhead_pass_frac", "frac"),
        ("stream.ingest_records_per_s_local1", "records/s"),
        ("stream.core_ratio", "x"),
    ]
)


@dataclass
class Context:
    root: str
    work: str
    seed: int
    spark: object = None
    listener: object = None


def prepare_environment(work: str) -> None:
    """What Python workers and the JVM need, set before either starts: the
    repository on PYTHONPATH, one core per Spark slot, and every temporary
    path under the run's own work directory."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData\"",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Collects each data-carrying micro-batch's duration breakdown."""

        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                self.progress.append(dict(p.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def measure(w, seconds: float) -> list[dict]:
    """Closed loop of ``seconds / w.PASS_S`` whole passes (at least one),
    about ``seconds`` on a 4-vCPU VM. The count is fixed by ``seconds``, not
    by how fast the passes run: each pass still runs a little faster than
    the one before (the JIT is still compiling), so a loop that ran until
    the time was up gave a fast run more, warmer passes and a lower median."""
    passes = []
    for _ in range(max(1, round(seconds / w.PASS_S))):
        c0, s0 = H.tree_cpu_s(), H.host_steal()
        p = w.run_pass(len(passes))
        p["cpu_s"] = H.tree_cpu_s() - c0
        p["steal"] = H.host_steal(s0)
        passes.append(p)
        H.log(f"pass {len(passes) - 1}: build_s {p['build_s']:.3f} "
              f"action_s {p['action_s']:.3f} cpu_s {p['cpu_s']:.2f} steal {p['steal']:.2f}")
    return passes


def e2e(passes) -> dict:
    """Medians over passes of the whole pass and of its two phases."""
    return {
        "pass_s": H.median([p["build_s"] + p["action_s"] for p in passes]),
        "build_s": H.median([p["build_s"] for p in passes]),
        "action_s": H.median([p["action_s"] for p in passes]),
    }


def traced_pass(ctx, w, untraced: list[dict]) -> dict:
    """One pass under the tracer, then one more untraced pass, in the same
    UI-enabled session; the per-layer numbers come from the traced pass and
    the overhead from comparing it with the untraced passes around it."""
    before = set(H.StageTable(ctx.spark.sparkContext).job_stages)
    tracer = H.Tracer(ctx.spark)
    if isinstance(w, W.StreamSmallFiles):
        ctx.listener = make_listener()
        ctx.spark.streams.addListener(ctx.listener)
    W.install_layer_spans(tracer)
    try:
        res = w.run_pass(len(w.passes), tracer=tracer)
    finally:
        tracer.unwrap_all()
    if ctx.listener is not None:
        deadline = time.time() + 30
        while len(ctx.listener.progress) < len(res["batches"]) and time.time() < deadline:
            time.sleep(0.1)
        ctx.spark.streams.removeListener(ctx.listener)
    table = H.StageTable(ctx.spark.sparkContext)
    jobs = [j for j in table.job_stages if j not in before]
    layers = dict.fromkeys((n for n, _ in PER_LAYER), 0)
    layers.update(w.layers(tracer, table, res))
    layers.update(H.spark_totals(table, jobs))
    plain = e2e(untraced + [w.run_pass(len(w.passes))])
    traced = e2e([res])
    layers["trace.overhead_pass_frac"] = traced["pass_s"] / plain["pass_s"] - 1
    for sp in tracer.spans:
        if sp.jobs:
            sp.attrs["spark"] = H.spark_totals(table, sp.jobs)
    tracer.dump(
        os.path.join(os.getcwd(), ".perfbench_work", "traces", f"{w.name}-seed{ctx.seed}.json"),
        {"workload": w.name, "seed": ctx.seed, "untraced": plain, "traced": traced,
         "layers": layers},
    )
    return layers


def query_surface_layers(ctx, failures: list[str]) -> tuple[dict, int, int]:
    """The gate sample, traced in the bulk workload's traced run: the
    registry's query surface has no gated workload of its own (see
    README), so its per-layer numbers are taken here, after the bulk pass,
    in the same UI-enabled session. Returns the gate layers and the gate
    sample's (attempted, failed)."""
    g = W.GateSample(ctx)
    g.setup()
    g.warmup()
    tracer = H.Tracer(ctx.spark)
    res = g.run_pass(0, tracer=tracer)
    g.check(failures)
    tracer.dump(
        os.path.join(os.getcwd(), ".perfbench_work", "traces", f"{g.name}-seed{ctx.seed}.json"),
        {"workload": g.name, "seed": ctx.seed, "pass": {k: res[k] for k in ("build", "action")}},
    )
    return g.layers(tracer, None, res), *g.ops()


def local1_baseline(ctx, w, layers: dict, cores_rate: float) -> None:
    """The same stream pass at local[1]: the single-threaded baseline."""
    ctx.spark.stop()
    ctx.spark = H.start_session(1, ui=False)
    H.warm_python_workers(ctx.spark)
    res = w.run_pass(len(w.passes))
    rate = res["records"] / res["build_s"]
    layers["stream.ingest_records_per_s_local1"] = rate
    layers["stream.core_ratio"] = cores_rate / rate


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka_connect_hdfs_spark")):
        print(f"perfbench: no kafka_connect_hdfs_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_environment(work)

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2

    ctx = Context(ROOT, work, args.seed)
    try:
        t0 = time.perf_counter()
        ctx.spark = H.start_session(CPUS, ui=bool(args.trace))
        H.log("session started")
        w = W.WORKLOADS[args.workload](ctx)
        w.setup()
        H.log("inputs written")
        w.warmup()
        setup_s = time.perf_counter() - t0
        H.log("warm-up done")

        passes = measure(w, args.seconds)
        H.log(f"{len(passes)} timed passes done")
        untraced = e2e(passes)
        metrics = {
            "setup_s": setup_s, **untraced,
            "pass_cpu_s": H.median([p["cpu_s"] for p in passes]),
        }
        named = w.named_metrics(passes)

        failures: list[str] = []
        w.check(failures)
        attempted, failed = w.ops()
        H.log("checks done")

        if args.trace:
            layers = traced_pass(ctx, w, passes)
            if isinstance(w, W.BulkAvroHourly):
                gates, g_attempted, g_failed = query_surface_layers(ctx, failures)
                layers.update(gates)
                attempted, failed = attempted + g_attempted, failed + g_failed
            if isinstance(w, W.StreamSmallFiles):
                last = w.passes[-1]  # the untraced pass right after the traced one
                local1_baseline(ctx, w, layers, last["records"] / last["build_s"])
            out = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
            H.log("traced pass done")
        else:
            out = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END}

        failed = min(attempted, failed + len(failures))  # a failed check is a failed operation
        for n in ("setup_s", "pass_cpu_s", "pass_s", "build_s", "action_s"):
            print(f"{args.workload} {n} {metrics[n]:.6g} s")
        print(f"{args.workload} host_steal {H.median([p['steal'] for p in passes]):.3f} "
              f"share of vCPU time during the passes")
        for n, v, u, k in named:
            print(f"{args.workload} {n} {v:.6g} {u} (samples={k})")
        print(f"{args.workload} ops_failed_frac {failed / attempted:.6g} failed/attempted "
              f"({failed}/{attempted})")
        if getattr(w, "probe_error", None):
            print(f"{args.workload} contract-name probe failed: {w.probe_error}")
        for f in failures:
            print(f"{args.workload} CHECK FAILED: {f}")
        print(json.dumps({
            "correct": not failures, "attempted": attempted, "failed": failed, "metrics": out,
        }))
        return 0
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        H.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
