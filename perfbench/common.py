"""Shared pieces of the benchmark: statistics, spans, the run directory,
the Spark session and the per-layer collectors.

Nothing here starts a thread or touches the filesystem on import.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARAMS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "params.json")

#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10

#: a measured window is extended by at most this long to reach the
#: samples its p50 needs
MAX_EXTENSION_S = 60.0

#: first-half vs second-half median change above which a window is
#: reported as trending
TREND_LIMIT = 0.10

#: span layers whose self time the traced run reports (0 where a
#: workload has no span of that layer)
SPAN_LAYERS = ("bench", "engine", "sources", "streaming", "state",
               "processor", "versioned", "spark.stage")


def load_params() -> dict:
    """The workload parameters, without their reasons."""
    with open(PARAMS_PATH) as fh:
        raw = json.load(fh)
    return {
        group: {k: v["value"] for k, v in entries.items()}
        for group, entries in raw.items()
    }


# --------------------------------------------------------------- statistics


def reportable(n_samples: int, q: float) -> bool:
    """True when ``n_samples`` leave at least MIN_BEYOND beyond quantile q."""
    return n_samples * (1.0 - q) >= MIN_BEYOND - 1e-9


def percentile(values, q: float, n_samples: int | None = None) -> float:
    """Quantile ``q`` (0..1, linear interpolation) of ``values``.

    ``n_samples`` is the number of independent samples behind the values
    (for record latencies: batches); it defaults to ``len(values)``.
    Raises ValueError when the samples cannot support the quantile.
    """
    vals = sorted(values)
    n = len(vals) if n_samples is None else n_samples
    if not vals or not reportable(n, q):
        raise ValueError(
            f"p{round(q * 100)} needs {MIN_BEYOND} samples beyond it; "
            f"have {n} samples"
        )
    pos = q * (len(vals) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def trend(samples: list[float]) -> dict:
    """Compare the medians of the first and second half of a window.

    ``change`` is (second - first) / first; the window is ``steady`` when
    its magnitude is at most TREND_LIMIT.
    """
    if len(samples) < 4:
        return {"first": None, "second": None, "change": None, "steady": False}
    half = len(samples) // 2
    first = statistics.median(samples[:half])
    second = statistics.median(samples[half:])
    change = (second - first) / first if first else 0.0
    return {
        "first": round(first, 4),
        "second": round(second, 4),
        "change": round(change, 4),
        "steady": abs(change) <= TREND_LIMIT,
    }


# ------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    span_id: int
    parent: int | None
    op_id: str | None


@dataclass
class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    enabled: bool
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def add(self, name, layer, start, end, parent=None, op_id=None) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(Span(name, layer, start, end, sid, parent, op_id))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, layer: str, op_id: str | None = None):
        """Time a call into the package; nested spans become children."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(name, layer, time.time(), 0.0, sid, parent, op_id)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            span.end = time.time()

    def self_ms_by_layer(self) -> dict[str, float]:
        """Per layer: sum over its spans of duration minus the part of
        that interval covered by the span's children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in children.get(s.span_id, [])]
            )
            own = max(0.0, (s.end - s.start) - covered)
            out[s.layer] = out.get(s.layer, 0.0) + own * 1000.0
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {"run_id": self.run_id,
                 "spans": [s.__dict__ for s in self.spans]},
                fh,
            )


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ----------------------------------------------------------- run directory


def shm_entries() -> int:
    try:
        return len(os.listdir("/dev/shm"))
    except OSError:
        return 0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.lstat(os.path.join(dirpath, f)).st_size
    return total


@contextlib.contextmanager
def run_dir(workload: str):
    """A directory the run owns, inside the checkout, removed at exit
    (also on failure). Every checkpoint, table and Spark scratch file of
    the run lives under it."""
    base = os.path.join(ROOT, ".perfbench_run")
    path = os.path.join(base, f"{workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(path, "tmp"))
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no other run is using it


# ----------------------------------------------------------- Spark session


def session_conf(rdir: str) -> dict[str, str]:
    p = load_params()["engine"]
    return {
        "spark.driver.memory": p["driver_memory"],
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(rdir, "warehouse"),
        "spark.driver.extraJavaOptions": p["jvm_options"],
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "5000",
    }


def get_session(workload: str, rdir: str, cores: int | None = None):
    """The program's own session factory with the benchmark's fixed
    master, shuffle partitions and scratch locations."""
    from kinesis_app_spark.engine import get_spark

    p = load_params()["engine"]
    spark = get_spark(
        app_name=f"perfbench-{workload}",
        master=f"local[{cores or p['cores']}]",
        shuffle_partitions=p["shuffle_partitions"],
        extra_conf=session_conf(rdir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def prepare_environment(rdir: str) -> None:
    """Before the JVM starts: workers import the package and this
    benchmark from the checkout, and Spark's and Python's scratch files
    stay in the run directory (SPARK_LOCAL_DIRS wins over
    spark.local.dir, so it is set here)."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(rdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rdir, "spark-local")
    # also for the short-lived launcher JVM spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(rdir, 'tmp')}")
    os.environ.pop("SPARK_GRAFT_SCRATCH", None)


def shutdown_jvm() -> None:
    """Stop the session, then the JVM it runs in, and wait until it and
    every process it started (Python workers) have ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = [p for p in _descendants(os.getpid()) if p != os.getpid()]
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _wait_ended(started, timeout=30)


def _wait_ended(pids: list[int], timeout: float) -> None:
    """Wait for the processes to end (zombies count as ended); kill the
    ones still running at the timeout."""
    def running(pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.time() + timeout
    while any(running(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for pid in filter(running, pids):
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


# --------------------------------------------------------------- processes


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants (the
    JVM and the Python workers), from /proc."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakRss:
    """Samples tree_rss_mb every ``interval`` seconds between start() and
    stop(), except while paused (``active`` cleared)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self):
        while not self._stop.is_set():
            if self.active.is_set():
                self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self.active.set()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def wait_for_samples(count, need: int) -> None:
    """Extend a measured window until ``count()`` reaches ``need``, for at
    most MAX_EXTENSION_S, so its percentile is reportable."""
    deadline = time.perf_counter() + MAX_EXTENSION_S
    while count() < need and time.perf_counter() < deadline:
        time.sleep(0.2)


# ------------------------------------------------------ status-store layers


@dataclass
class OpStats:
    """What the status store saw of the jobs of one job group."""

    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    stage_spans: list = field(default_factory=list)  # (stage_id, start_s, end_s)


def collect_job_groups(spark, window: tuple[float, float] | None = None,
                       groups: set[str] | None = None) -> dict[str, OpStats]:
    """Per job group: jobs, tasks, executor run and CPU time, shuffle and
    spill bytes and stage intervals, from ``sc.statusStore()``. ``window``
    keeps only jobs submitted inside it (epoch seconds); jobs without a
    group fall under ""."""
    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out: dict[str, OpStats] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        grp = job.jobGroup()
        name = grp.get() if grp.isDefined() else ""
        if groups is not None and name not in groups:
            continue
        if window is not None:
            sub = job.submissionTime()
            t = sub.get().getTime() / 1000.0 if sub.isDefined() else None
            if t is None or not window[0] <= t <= window[1]:
                continue
        st = out.setdefault(name, OpStats())
        st.jobs += 1
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            try:
                stage = store.lastStageAttempt(stage_ids.apply(k))
            except Exception:  # evicted or never submitted
                continue
            sub, done = stage.submissionTime(), stage.completionTime()
            if not sub.isDefined():
                continue  # skipped stage: its output was reused
            st.tasks += stage.numTasks()
            st.run_ms += stage.executorRunTime()
            st.cpu_ms += stage.executorCpuTime() / 1e6
            st.shuffle_write += stage.shuffleWriteBytes()
            st.shuffle_read += stage.shuffleReadBytes()
            st.spill += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            if done.isDefined():
                st.stage_spans.append(
                    (stage.stageId(), sub.get().getTime() / 1000.0,
                     done.get().getTime() / 1000.0)
                )
    return out


def job_group_metrics(ops: dict[str, OpStats], n_ops: int) -> dict[str, float]:
    """The operators.* per-layer metrics, per op."""
    n = max(n_ops, 1)
    tot = OpStats()
    for st in ops.values():
        for f in ("jobs", "tasks", "run_ms", "cpu_ms", "shuffle_write",
                  "shuffle_read", "spill"):
            setattr(tot, f, getattr(tot, f) + getattr(st, f))
    return {
        "operators.jobs_per_op": tot.jobs / n,
        "operators.tasks_per_op": tot.tasks / n,
        "operators.executor_run_ms": tot.run_ms / n,
        "operators.executor_cpu_ms": tot.cpu_ms / n,
        "operators.shuffle_write_bytes": tot.shuffle_write / n,
        "operators.shuffle_read_bytes": tot.shuffle_read / n,
        "operators.spill_bytes": tot.spill / n,
    }


def add_stage_spans(tracer: Tracer, ops: dict[str, OpStats],
                    op_spans: dict[str, int]) -> None:
    """Child spans rebuilt from each op's stage intervals."""
    for name, st in ops.items():
        parent = op_spans.get(name)
        for stage_id, lo, hi in st.stage_spans:
            tracer.add(f"stage {stage_id}", "spark.stage", lo, hi,
                       parent=parent, op_id=name)
