"""Session lifecycle, statistics and the tracer shared by the workloads.

The tracer works from outside the package: it replaces public functions on
their modules with wrappers that open a span (name, start, end, parent) and
run the call under a job group of its own, so every Spark job can be charged
to the span that caused it. Spans stay in memory until the traced pass is
over; the workloads then turn them into per-layer numbers.
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout is kept for results."""
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# statistics


def median(values):
    return statistics.median(values) if values else 0.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the gateway JVM and the Python workers it forks. Time
    the host steals from the guest's vCPUs is not in it."""
    parent, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        # fields after "(comm)": state ppid ... utime(12) stime(13) cutime cstime
        parent[int(d)] = int(f[1])
        used[int(d)] = sum(int(x) for x in f[11:15])
    me, total = os.getpid(), 0
    for pid, ticks in used.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks
    return total / _TICK


def host_steal(since=None):
    """Cumulative (steal, total) jiffies of all vCPUs; with ``since``, the
    share of vCPU time the host took away in between."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    now = (f[7], sum(f))
    if since is None:
        return now
    return (now[0] - since[0]) / max(1, now[1] - since[1])


def percentile(values, q):
    """Nearest-rank percentile; ``q`` in [0, 100]."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


# ---------------------------------------------------------------------------
# session lifecycle


def start_session(cpus: int, ui: bool):
    """A session from the package's own factory, at ``local[cpus]``."""
    from kafka_connect_hdfs_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    if ui:
        os.environ["SPARK_GRAFT_UI"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def warm_python_workers(spark) -> None:
    """One small job through Python workers, so a fresh session does not
    charge worker start-up to the first measured call."""
    spark.sparkContext.parallelize(range(64), spark.sparkContext.defaultParallelism).map(
        lambda x: x * x
    ).sum()


# ---------------------------------------------------------------------------
# tracing


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder with job-group attribution."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        #: parent for spans opened on threads with no open span (the
        #: foreachBatch callback thread runs under the drain span)
        self.root: int | None = None
        self.t0 = time.perf_counter()

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        with self._lock:
            sp = Span(len(self.spans), name, parent, 0.0, attrs=dict(attrs))
            self.spans.append(sp)
        sp.group = f"perfbench-{sp.sid}"
        saved = {k: self.sc.getLocalProperty(k) for k in GROUP_KEYS}
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp.sid)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            sp.jobs = list(self.sc.statusTracker().getJobIdsForGroup(sp.group))
            for k, v in saved.items():
                self.sc.setLocalProperty(k, v)

    def wrap(self, owner, attr: str, name: str, note=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; ``note(sp, args)``
        may record call attributes on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                if note is not None:
                    note(sp, args)
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- queries over spans -------------------------------------------------
    def named(self, *names) -> list[Span]:
        return [s for s in self.spans if s.name in names]

    def top(self, *names) -> list[Span]:
        """Spans with these names whose ancestors carry none of them (so a
        subclass method calling its base is counted once)."""
        by_id = {s.sid: s for s in self.spans}

        def nested(s):
            p = s.parent
            while p is not None:
                if by_id[p].name in names:
                    return True
                p = by_id[p].parent
            return False

        return [s for s in self.named(*names) if not nested(s)]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        ivs = sorted((max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({
                **extra,
                "spans": [{
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "start_s": round(s.start - self.t0, 6),
                    "end_s": round(s.end - self.t0, 6),
                    "self_s": round(self.self_time(s), 6),
                    "jobs": s.jobs, **s.attrs,
                } for s in self.spans],
            }, fh, indent=1, default=float)


def span_or_nothing(tracer):
    """``tracer.span``, or a no-op of the same shape for untraced passes."""
    return tracer.span if tracer else (lambda name, **attrs: nullcontext())


# ---------------------------------------------------------------------------
# UI REST (enabled only in the traced pass)

STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "inputBytes", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def _rest(sc, path):
    url = sc.uiWebUrl
    port = url.rsplit(":", 1)[1]
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}", timeout=60
    ) as r:
        return json.load(r)


class StageTable:
    """Job → stage → counters from the UI REST API, keyed for span lookup."""

    def __init__(self, sc):
        jobs = _rest(sc, "jobs")
        stages = _rest(sc, "stages")
        self.job_stages = {j["jobId"]: j.get("stageIds", []) for j in jobs}
        self.stage = {}
        for st in stages:
            if st.get("status") == "SKIPPED":
                continue
            agg = self.stage.setdefault(st["stageId"], dict.fromkeys(STAGE_FIELDS, 0))
            for f in STAGE_FIELDS:
                agg[f] += st.get(f, 0) or 0

    def totals(self, job_ids) -> dict:
        """Counters summed over the distinct executed stages of these jobs."""
        seen = set()
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["stages"] = 0
        for j in job_ids:
            for sid in self.job_stages.get(j, []):
                if sid in seen or sid not in self.stage:
                    continue
                seen.add(sid)
                out["stages"] += 1
                for f in STAGE_FIELDS:
                    out[f] += self.stage[sid][f]
        return out

    def stages_of(self, job_ids) -> list[dict]:
        return [self.stage[s] for j in job_ids for s in self.job_stages.get(j, []) if s in self.stage]


def spark_totals(table: StageTable, job_ids) -> dict:
    t = table.totals(job_ids)
    return {
        "spark.jobs": len(set(job_ids)),
        "spark.stages": t["stages"],
        "spark.tasks": t["numTasks"],
        "spark.shuffle_read_bytes": t["shuffleReadBytes"],
        "spark.shuffle_write_bytes": t["shuffleWriteBytes"],
        "spark.spill_bytes": t["memoryBytesSpilled"] + t["diskBytesSpilled"],
    }


def dir_bytes_files(root: str, suffix: str) -> tuple[int, int]:
    """On-disk bytes and count of data files under ``root``."""
    size = n = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(suffix) and not f.startswith("."):
                size += os.path.getsize(os.path.join(d, f))
                n += 1
    return size, n
