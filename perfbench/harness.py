"""Run-time plumbing shared by the workloads: the Spark session, a work
directory inside the checkout, the /proc RSS sampler, the JVM load
sentinel, spans, quantiles and process teardown."""

from __future__ import annotations

import math
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Driver (= executor, local mode) heap. The box has 15 GB shared with
# other tenants; the workloads' live data is far below this.
# The heap is fixed at this size and touched at start-up: how much of a
# growable heap is resident depends on when the collector chooses to
# grow it, which moved peak RSS by 2.0-2.7 GB between runs of the same
# code. Fixed, the JVM's share is the heap plus its non-heap memory, and
# peak RSS moves with non-heap and Python-worker memory.
DRIVER_MEMORY = "2g"

# Fixed JVM-only canary: xxhash64 over this many rows, summed as DOUBLE
# (a LONG sum overflows under ANSI mode). It touches no repository code,
# so its wall time moves only with machine load.
SENTINEL_ROWS = 5_000_000


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (the value at rank ceil(q * n))."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class WorkDir:
    """Scratch directory under the checkout, removed on close. Spark's
    local dirs, warehouse, JVM/Python temp files, event logs, streaming
    input and checkpoints all live here."""

    def __init__(self, tag: str):
        self.path = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
        os.makedirs(self.path, exist_ok=True)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run still uses it, or it is not empty


def prepare_env(work: WorkDir) -> None:
    """Environment the JVM and the Python workers inherit: the checkout
    on PYTHONPATH (workers import beagle_spark) and every temp dir
    inside the work dir."""
    tmp = work.sub("tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def start_session(work: WorkDir, event_log_dir: str | None = None):
    """local[cores] session; with ``event_log_dir`` Spark's event log is
    written there (the traced run only)."""
    from pyspark.sql import SparkSession

    n = cores()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work.sub('tmp')} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
        .config("spark.local.dir", work.sub("spark-local"))
        .config("spark.sql.warehouse.dir", work.sub("warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .config("spark.eventLog.enabled", "true" if event_log_dir else "false")
    )
    if event_log_dir:
        b = b.config("spark.eventLog.dir", event_log_dir).config(
            "spark.eventLog.compress", "false"
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it
    (its Python daemon and workers exit with it)."""
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
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of ``root_pid`` (from /proc/*/stat)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def wait_for_children() -> list[int]:
    """Wait up to 30 s until this process has no descendants; returns
    stragglers."""
    deadline = time.monotonic() + 30.0
    while True:
        left = descendants(os.getpid())
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.1)


class RssSampler:
    """Peak summed RSS of every descendant of this process: the JVM,
    the PySpark daemon and its Python workers. Sampled from /proc."""

    PAGE = os.sysconf("SC_PAGE_SIZE")
    INTERVAL = 0.1  # s between samples

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except OSError:
                pass  # exited between listing and reading
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self.INTERVAL)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak_bytes / 1e6


def sentinel_s(spark) -> float:
    t0 = time.monotonic()
    spark.range(SENTINEL_ROWS).selectExpr("sum(cast(xxhash64(id) AS double))").collect()
    return time.monotonic() - t0


@dataclass
class Spans:
    """In-memory spans (name, start, end) around the benchmark's calls
    into the program; all are children of the run. Written out only
    when the run ends."""

    items: list = field(default_factory=list)
    enabled: bool = False

    def add(self, name: str, start: float, end: float) -> None:
        if self.enabled:
            self.items.append((name, start, end))


@dataclass
class Ctx:
    """What a workload receives: the session, its inputs' seed, its time
    budget, and where to put files."""

    spark: object
    seed: int
    seconds: float
    work: WorkDir
    traced: bool
    setup_reps: int
    min_passes: int
    warm_s: float  # untimed passes for this long (at least one) first; 0 = none
    phase: int = 0
    spans: Spans = field(default_factory=Spans)

    def sub(self, name: str) -> str:
        """A directory of this phase's own (a traced run has several
        phases, and a stream must not resume from another's checkpoint)."""
        return self.work.sub(f"p{self.phase}-{name}")


@dataclass
class Outcome:
    """A workload's measured end-to-end values, per-layer values and
    operation counts."""

    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)
