"""Run context shared by every workload.

- ``Run``: an isolated run directory inside the checkout (store roots,
  warehouse, Derby home, ``SPARK_LOCAL_DIRS``, ``TMPDIR``), removed on
  close; the Spark session sized to this machine; ``PYTHONPATH`` set so
  Spark's Python workers can import ``aerovaldb_spark``.
- ``Probe``: every operation the benchmark issues runs under its own
  Spark job group with a wall-clock watchdog that cancels the group.
  In a traced run it also records spans (name, start, end, parent,
  request id) in memory and resolves per-call Spark job/task counts
  from the status tracker at the end of the run.
- ``Tally``: attempted / failed operation counts.
"""

from __future__ import annotations

import contextvars
import itertools
import os
import resource
import shutil
import statistics
import subprocess
import tempfile
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from concurrent.futures import TimeoutError as FutureTimeout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(REPO, ".perfbench_tmp")

# Span currently open in this context; asyncio.to_thread copies the
# context, so a db call running in a worker thread sees the aio span
# that awaited it as its parent.
CURRENT_SPAN: contextvars.ContextVar[int | None] = contextvars.ContextVar(
    "perfbench_span", default=None
)
CURRENT_REQUEST: contextvars.ContextVar[int | None] = contextvars.ContextVar(
    "perfbench_request", default=None
)


class OpTimeout(Exception):
    """An operation outlived the watchdog limit."""


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self._lock = threading.Lock()

    def ok(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def fail(self, reason: str, n: int = 1) -> None:
        with self._lock:
            self.attempted += n
            self.failed += n
            if len(self.reasons) < 20:
                self.reasons.append(reason[:300])

    def check(self, cond: bool, reason: str) -> bool:
        if cond:
            self.ok()
        else:
            self.fail(reason)
        return cond


class Run:
    """Per-process run context: directories, environment, Spark."""

    def __init__(self, nproc: int) -> None:
        self.nproc = nproc
        self.dir = os.path.join(RUNS_DIR, f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
        for sub in ("local", "tmp", "warehouse", "derby", "stores"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        self.spark = None
        self.boot_s = 0.0
        self._stores = itertools.count()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def new_store_root(self, label: str) -> str:
        return self.path("stores", f"{label}-{next(self._stores)}")

    def start_spark(self, trace: bool):
        from aerovaldb_spark.session import get_spark

        tmp = self.path("tmp")
        java_opts = (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.path('derby')} "
            "-XX:-UsePerfData -Xms1g"
        )
        conf = {
            "spark.driver.memory": "1g",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        }
        if trace:
            # Keep every job/stage of the run in the status store so
            # per-call counts can be resolved after the run.
            conf["spark.ui.retainedJobs"] = "1000000"
            conf["spark.ui.retainedStages"] = "1000000"
        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            cpus=self.nproc,
            shuffle_partitions=self.nproc,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.boot_s = time.perf_counter() - t
        return self.spark

    def spark_conf(self) -> dict[str, str]:
        keys = (
            "spark.master",
            "spark.driver.memory",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.default.parallelism",
        )
        conf = self.spark.sparkContext.getConf()
        out = {k: conf.get(k) for k in keys if conf.get(k) is not None}
        out["defaultParallelism"] = str(self.spark.sparkContext.defaultParallelism)
        return out

    def peak_rss_mb(self) -> float:
        """Peak RSS of this process plus the driver JVM (VmHWM)."""
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm = 0.0
        if self.spark is not None:
            pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            jvm = int(line.split()[1]) / 1024.0
            except OSError:
                pass
        return own + jvm

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass  # another run still owns a directory there


class Probe:
    """Job group + watchdog around every benchmark operation; spans in
    traced runs."""

    def __init__(self, spark, limit_s: float) -> None:
        self.sc = spark.sparkContext
        self.limit_s = limit_s
        self.trace = False  # spans are recorded only while set
        self._ids = itertools.count(1)
        # (id, name, start, end, parent, request, job group or None)
        self.spans: list[tuple] = []
        self._pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="perfbench-op")

    def span_open(self) -> tuple[int, float, contextvars.Token]:
        sid = next(self._ids)
        return sid, time.perf_counter(), CURRENT_SPAN.set(sid)

    def span_close(self, name: str, opened: tuple, group: str | None = None) -> None:
        sid, start, token = opened
        end = time.perf_counter()
        CURRENT_SPAN.reset(token)
        self.spans.append(
            (sid, name, start, end, CURRENT_SPAN.get(), CURRENT_REQUEST.get(), group)
        )

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` in the calling thread under a fresh job group that
        a timer cancels after ``limit_s``."""
        gid = f"perfbench-{next(self._ids)}"
        self.sc.setJobGroup(gid, name, interruptOnCancel=True)
        fired = threading.Event()

        def expire() -> None:
            fired.set()
            self.sc.cancelJobGroup(gid)

        timer = threading.Timer(self.limit_s, expire)
        timer.daemon = True
        timer.start()
        opened = self.span_open() if self.trace else None
        try:
            out = fn(*args, **kwargs)
        finally:
            if opened is not None:
                self.span_close(name, opened, gid)
            timer.cancel()
        if fired.is_set():
            raise OpTimeout(f"{name} exceeded {self.limit_s:.0f}s")
        return out

    def run(self, name: str, fn, *args, **kwargs):
        """Synchronous client call with a hard deadline: a call that
        never returns (a hang outside any Spark job) is abandoned on
        its worker thread and reported as a timeout."""
        ctx = contextvars.copy_context()
        fut = self._pool.submit(ctx.run, self.call, name, fn, *args, **kwargs)
        try:
            return fut.result(timeout=self.limit_s + 10)
        except FutureTimeout:
            # the worker is stuck: leave it behind, continue on a new one
            self._pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="perfbench-op")
            raise OpTimeout(f"{name} never returned") from None

    def wrap(self, name: str, fn):
        """Trace-only wrapper for a function ``db.py`` calls internally."""

        def traced(*args, **kwargs):
            opened = self.span_open()
            try:
                return fn(*args, **kwargs)
            finally:
                self.span_close(name, opened)

        traced.__wrapped__ = fn
        return traced

    def close(self) -> None:
        self._pool.shutdown(wait=False, cancel_futures=True)

    # -- per-layer aggregation -----------------------------------------

    def job_counts(self, settle_s: float = 2.0) -> dict[str, tuple[int, int]]:
        """Spark (jobs, tasks) per job group, read once the listener bus
        has caught up with the last job."""
        time.sleep(settle_s)
        tracker = self.sc.statusTracker()
        out: dict[str, tuple[int, int]] = {}
        for span in self.spans:
            gid = span[6]
            if gid is None:
                continue
            jobs = tracker.getJobIdsForGroup(gid)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            out[gid] = (len(jobs), tasks)
        return out

    def layer_stats(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, mean ms, mean self ms, mean Spark jobs
        and tasks per call. Self time is the span's duration minus the
        union of its children's intervals."""
        counts = self.job_counts() if any(s[6] for s in self.spans) else {}
        children: dict[int, list[tuple[float, float]]] = {}
        for sid, _n, start, end, parent, _r, _g in self.spans:
            if parent is not None:
                children.setdefault(parent, []).append((start, end))
        acc: dict[str, list[float]] = {}
        for sid, name, start, end, _p, _r, gid in self.spans:
            covered = 0.0
            last = start
            for cs, ce in sorted(children.get(sid, ())):
                cs, ce = max(cs, last), min(ce, end)
                if ce > cs:
                    covered += ce - cs
                    last = ce
            jobs, tasks = counts.get(gid, (0, 0))
            a = acc.setdefault(name, [0, 0.0, 0.0, 0, 0])
            a[0] += 1
            a[1] += (end - start) * 1000
            a[2] += (end - start - covered) * 1000
            a[3] += jobs
            a[4] += tasks
        return {
            name: {
                "calls": n,
                "ms": ms / n,
                "self_ms": self_ms / n,
                "spark_jobs": jobs / n,
                "spark_tasks": tasks / n,
            }
            for name, (n, ms, self_ms, jobs, tasks) in acc.items()
        }


class Gate:
    """Duck-typed stand-in for an ``AerovalSparkDB``: every method call
    the benchmark makes goes through ``Probe.call`` as ``db.<method>``.
    Calls the store makes on itself are not intercepted."""

    def __init__(self, db, probe: Probe) -> None:
        self._db = db
        self._probe = probe

    def __getattr__(self, name: str):
        attr = getattr(self._db, name)
        if not callable(attr):
            return attr
        probe = self._probe

        def call(*args, **kwargs):
            return probe.call(f"db.{name}", attr, *args, **kwargs)

        return call


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, int(round(q / 100.0 * len(xs) + 0.5)) - 1))
    return xs[k]


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """The highest of p99/p95/p90/p75/p50 that leaves at least
    ``min_beyond`` samples above it, and its value."""
    n = len(values)
    for q in (99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - q / 100.0) >= min_beyond:
            return q, percentile(values, q)
    return 50.0, percentile(values, 50.0)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
