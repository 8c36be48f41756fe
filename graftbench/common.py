"""Shared pieces of the benchmark: environment pinning, the Spark
session, spans, Spark job counting, memory sampling and statistics.

Nothing here starts a thread, a process or a JVM at import time.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_DIR = ROOT / "bigdata_kafka_2_spark"
#: Everything the benchmark writes lives here (git-ignored).
WORK = ROOT / ".bench_build" / "graftbench"

#: The driver JVM's heap. Small on purpose: the machine is shared and
#: the inputs are a few MB.
DRIVER_MEM = "1g"
#: Spark task slots. Fixed so that runs on hosts with more cores stay
#: comparable.
MAX_CPUS = 4


def cpus() -> int:
    return max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))


def pin_environment() -> None:
    """Settings the engine already reads, fixed so runs are comparable
    and every file lands inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            "TMPDIR": str(tmp),
            "PYTHONPATH": os.pathsep.join(path),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_LOCAL_DIR": str(WORK / "spark-local"),
            # Spark lets this variable override spark.local.dir
            "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
            "SPARK_GRAFT_WAREHOUSE": str(WORK / "warehouse"),
            # every JVM, the launcher's too: no hsperfdata in the system /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    # the streaming drain sizes its shuffle from the input, as by default
    os.environ.pop("SPARK_GRAFT_STREAM_SHUFFLE", None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(app: str):
    """The engine's own session factory, with a job history long enough
    for per-operation job counts (the SQL history is never read)."""
    from bigdata_kafka_2_spark import get_spark

    return get_spark(
        app,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (the Python workers are
    its children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def engine_fingerprint() -> str:
    """Hash of the engine's sources: cached builds are keyed by it, so a
    changed engine never reuses a stale model or oracle answer."""
    h = hashlib.sha256()
    for p in sorted(ENGINE_DIR.rglob("*.py")):
        h.update(str(p.relative_to(ENGINE_DIR)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def key_of(*parts) -> str:
    return hashlib.sha256(json.dumps(parts, sort_keys=True, default=str).encode()).hexdigest()[:16]


def log(msg: str) -> None:
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# --- statistics -----------------------------------------------------------


def pct(values, q: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def class_pct(samples_by_kind: dict[str, list[float]], q: float) -> float:
    """A class's percentile: the mean of each kind's own percentile.
    Never a percentile over pooled kinds of different cost."""
    return sum(pct(v, q) for v in samples_by_kind.values()) / len(samples_by_kind)


def ramp_ratio(units: list[tuple[float, float]]) -> float:
    """Throughput in the second half of the timed window over the first,
    from ``(start, end)`` of units of equal work in order (serve's
    blocks, analytics' passes; an odd middle unit is left out). Above 1
    means the run was still warming up."""
    half = len(units) // 2
    first = sum(end - start for start, end in units[:half])
    second = sum(end - start for start, end in units[len(units) - half:])
    return first / second


# --- memory ---------------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read().decode(errors="replace")
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        pid, ppid = int(entry), int(fields[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM, Python workers, the load generator), sampled every
    ``interval`` seconds on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


# --- spans ----------------------------------------------------------------


@dataclass
class Span:
    name: str
    trace: str
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """In-memory spans around calls into the engine, recorded from the
    benchmark's side of each call. ``enabled`` is read at every call, so
    wrappers installed once can be switched on and off per operation.
    Times are ``time.monotonic()``, comparable across processes."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    def set_trace(self, trace: str) -> None:
        self._local.trace = trace

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        with self._lock:
            self._ids += 1
            sid = self._ids
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(
            name,
            getattr(self._local, "trace", "-"),
            sid,
            stack[-1] if stack else None,
            time.monotonic(),
        )
        stack.append(sid)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.monotonic()
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call made while enabled."""

        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        wrapped.__wrapped__ = fn
        return wrapped

    def write_jsonl(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "trace": s.trace,
                            "span": s.span_id,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                        }
                    )
                    + "\n"
                )

    def by_trace(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.trace, []).append(s)
        return out


def covered(spans: list[Span], names: set[str]) -> float:
    """Seconds of wall time covered by the named spans (overlaps merged)."""
    iv = sorted((s.start, s.end) for s in spans if s.name in names)
    total, cur_s, cur_e = 0.0, None, None
    for a, b in iv:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


#: DataFrame methods that can run Spark jobs, wrapped as ``spark.action``
#: spans while tracing (an eager ``localCheckpoint`` materializes its input).
ACTIONS = ("collect", "first", "count", "take", "head", "toPandas", "isEmpty",
           "toLocalIterator", "foreach", "foreachPartition", "localCheckpoint", "checkpoint")


@contextlib.contextmanager
def trace_spark_actions(tracer: Tracer):
    """Wrap the DataFrame actions and ``DataFrameWriter.save`` so time
    spent inside Spark jobs shows as its own span."""
    from pyspark.sql import DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    saved = {}
    for name in ACTIONS:
        saved[(DataFrame, name)] = getattr(DataFrame, name)
        setattr(DataFrame, name, tracer.wrap("spark.action", getattr(DataFrame, name)))
    saved[(DataFrameWriter, "save")] = DataFrameWriter.save
    DataFrameWriter.save = tracer.wrap("spark.action", DataFrameWriter.save)
    try:
        yield
    finally:
        for (cls, name), fn in saved.items():
            setattr(cls, name, fn)


class JobCounter:
    """Spark jobs, stages and tasks per operation, read back from the
    status tracker by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def tag(self, group: str) -> None:
        """Put the calling thread's next jobs in ``group``."""
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                # skipped stages (shuffle output reused) ran no tasks
                if st is not None and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
        return len(jobs), stages, tasks


# --- result ---------------------------------------------------------------


@dataclass
class Result:
    attempted: int
    failed: int
    #: name -> (value, unit)
    metrics: dict[str, tuple[float, str]]

    def line(self) -> str:
        return json.dumps(
            {
                "correct": self.failed == 0,
                "attempted": int(self.attempted),
                "failed": int(self.failed),
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in self.metrics.items()
                },
            }
        )
