"""Shared plumbing for the benchmark: paths, process environment, the
Spark session's life cycle, the epoch listener and small statistics."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = REPO_ROOT / ".perfbench_work"
DRIVER_MEM = "3g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Point every process the run starts at the checkout and at its own
    work directory: Python workers import the package from any working
    directory, Spark uses one core per CPU (the session factory's own
    default is 32), and scratch files stay inside the checkout."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    root = str(REPO_ROOT)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + prev if prev else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ.pop("SPARK_GRAFT_IO_CODEC", None)


def start_session(work: Path, app: str, event_log: Path | None = None):
    from jly_flink_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work / 'tmp'}"
        ),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = str(event_log)
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM (and
    with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — best effort, then kill below
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — TimeoutExpired
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the Spark JVM (which also hosts the
    local executors), from /proc."""
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def clean_dir(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


SETUP_REPEATS = 3


def build_repeatedly(make) -> tuple[object, float, list[str]]:
    """Build a run's inputs ``SETUP_REPEATS`` times from the seed: the
    set-up time is the median, and every build must be identical.
    ``make(i)`` returns (inputs, digest); the first inputs are kept."""
    times, outs = [], []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        outs.append(make(i))
        times.append(time.perf_counter() - t0)
    problems = []
    if any(o[1] != outs[0][1] for o in outs[1:]):
        problems.append("generator: the same seed gave different inputs")
    return outs[0][0], median(times), problems


def digest_files(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(Path(p).name.encode())
        h.update(Path(p).read_bytes())
    return h.hexdigest()


def median(values) -> float:
    return float(statistics.median(values))


class EpochListener:
    """Collects every micro-batch's progress through a
    StreamingQueryListener (``recentProgress`` keeps only the last 100)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                obs = {
                    name: row.asDict() for name, row in p.observedMetrics.items()
                }
                rec = {
                    "query": str(p.id),
                    "batchId": int(p.batchId),
                    "numInputRows": int(p.numInputRows),
                    "timestamp": p.timestamp,
                    "durationMs": {k: int(v) for k, v in p.durationMs.items()},
                    "observed": obs,
                    "received": time.time(),
                }
                with outer.lock:
                    outer.progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def detach(self, spark) -> None:
        if self.listener is not None:
            spark.streams.removeListener(self.listener)
            self.listener = None

    def epochs(self, query) -> list[dict]:
        """The query's progress records of epochs that read input, in
        batch order (idle heartbeats carry no rows and are dropped)."""
        qid = str(query.id)
        with self.lock:
            recs = [
                p for p in self.progress
                if p["query"] == qid and p["numInputRows"] > 0
            ]
        return sorted(recs, key=lambda p: p["batchId"])

    def wait_for_batch(self, query, batch_id: int, timeout: float) -> bool:
        qid = str(query.id)
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if any(
                    p["query"] == qid and p["batchId"] >= batch_id
                    for p in self.progress
                ):
                    return True
            time.sleep(0.02)
        return False


def iso_to_epoch_s(ts: str) -> float:
    """Spark progress timestamps are ISO-8601 UTC with milliseconds."""
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


@dataclass
class Outcome:
    """What a workload measured. ``e2e`` holds the end-to-end metrics
    other than ``setup_s``; ``setup_parts`` the set-up phases the
    workload timed itself; ``report`` extra named figures (value, unit)
    printed for people; ``layers`` the traced per-layer figures."""

    attempted: int
    problems: list[str]
    e2e: dict = field(default_factory=dict)
    setup_parts: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    overhead_ratio: float | None = None


@dataclass
class Ctx:
    """One run's context, passed to the workload."""

    work: Path
    seed: int
    seconds: float
    spark: object
    tracer: object = None
    transport_hook: object = None  # wraps the SR transport (tests)
