"""Run environment, process-tree memory sampling and result bookkeeping
shared by the batch and streaming workloads."""

from __future__ import annotations

import os
import signal
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
DATA_DIR = BENCH_DIR / ".data"

# One local-mode JVM is the whole engine, so its heap is the memory knob.
# The engine's 16g default exceeds a 15 GB box; 2g holds every workload
# here and leaves room for the other tenants of a shared machine.
DRIVER_MEM_GB = 2


def process_start_time() -> float:
    """Wall-clock time this process was started, read from /proc."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    started_after_boot = int(fields[19]) / ticks
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - started_after_boot)


def physical_mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment() -> dict[str, str]:
    """Pin what the engine reads from the environment before its JVM and
    Python workers start, and return the pinned values for the record."""
    cores = len(os.sched_getaffinity(0))
    if DRIVER_MEM_GB >= physical_mem_gb():
        raise RuntimeError(
            f"driver memory {DRIVER_MEM_GB}g is not below physical RAM"
        )
    local_dirs = DATA_DIR / "spark-local"
    tmp = DATA_DIR / "tmp"
    local_dirs.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_MEM_GB}g",
        "SPARK_LOCAL_DIRS": str(local_dirs),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import the package by name; without the checkout
        # root on their path they fail with ModuleNotFoundError
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(REPO_ROOT), os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(pinned)
    if str(REPO_ROOT) not in sys.path:
        sys.path.insert(0, str(REPO_ROOT))
    return pinned


def session_conf() -> dict[str, str]:
    """Extra confs that keep the run's files in the checkout and its
    output readable; none of them changes how a query executes."""
    tmp = DATA_DIR / "tmp"
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(DATA_DIR / "warehouse"),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _descendants(pid: int) -> set[int]:
    kids = _children()
    out, stack = set(), list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.add(p)
        stack.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and
    the Python workers it forks), excluding pids named in ``exclude``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self.peak_parts: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kids = _children()
        parts, stack = {}, list(kids.get(os.getpid(), []))
        while stack:
            pid = stack.pop()
            if pid in self.exclude:
                continue
            parts[pid] = _rss_bytes(pid)
            stack.extend(kids.get(pid, []))
        total = sum(parts.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_parts = parts

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session (a SparkSession or SparkContext, or None when it
    is already stopped) and its JVM, and wait until the JVM and the Python
    workers it forked have exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    forked = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=timeout_s)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while forked and time.time() < deadline:
        forked = {pid for pid in forked if os.path.exists(f"/proc/{pid}")}
        time.sleep(0.05)


def end_children(timeout_s: float = 30.0) -> None:
    """Stop what the run started, on every path out of it: a Spark JVM
    still up, multiprocessing's resource tracker and any other child
    process. Wait until each has exited; kill what outlives the timeout."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None and pyspark.SparkContext._gateway is not None:
        try:
            stop_spark(pyspark.SparkContext._active_spark_context)
        except Exception as e:  # noqa: BLE001 - still reap what is left
            print(f"# stopping Spark failed: {e!r}", file=sys.stderr)
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    left = _descendants(os.getpid())
    for sig, wait_s in ((signal.SIGTERM, timeout_s), (signal.SIGKILL, 10.0)):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + wait_s
        while left and time.time() < deadline:
            left = {pid for pid in left if _running(pid)}
            time.sleep(0.05)
        if not left:
            return


def _running(pid: int) -> bool:
    """Reap ``pid`` if it is an ended child; True while it still runs."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass  # not a direct child, or already reaped
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]


@dataclass
class Outcome:
    """Operations attempted and failed in one run, with named failures."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failures.append(f"{name}: " + "; ".join(problems[:3]))

    @property
    def failed(self) -> int:
        return len(self.failures)
