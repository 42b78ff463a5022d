"""Shared plumbing for the warehouse benchmark: the hermetic run directory,
the Spark session lifecycle, process-tree memory, and small statistics.

Everything a run writes lives under ``<checkout>/.perfbench/`` (ignored by
git): a per-run directory, removed when the run ends or, if the run was
killed, by the next run, and the span files of traced runs. So a run never
touches the package's own ``.graft_warehouse/`` or the tracked tree.
"""

from __future__ import annotations

import ctypes
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "datawarehouse_group10_spark"
WORK = ROOT / ".perfbench"

#: One Spark task slot per core; the shuffle-partition count is pinned to
#: the same number so plans do not change with the package's default.
CPUS = len(os.sched_getaffinity(0))
#: Driver heap for local mode. The package defaults to 8g; the benchmark's
#: inputs are small and the host's memory is shared.
DRIVER_MEM = "2g"


def package_present() -> bool:
    return (ROOT / PACKAGE / "__init__.py").is_file()


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def make_run_dir(workload: str, seed: int) -> Path:
    """A fresh run directory; also removes those of runs that were killed."""
    for old in WORK.glob("run-*"):
        pid = old.name.rsplit("-", 1)[-1]
        if pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(old, ignore_errors=True)
    run = WORK / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        (run / sub).mkdir(parents=True)
    return run


def hermetic_env(run: Path) -> None:
    """Point every place the package, Spark and Python write scratch data
    at ``run`` and make the package importable by Python UDF workers,
    which inherit the environment, not ``sys.path``."""
    env = {
        "SPARK_GRAFT_WAREHOUSE": str(run / "warehouse"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(run / "spark-local"),
        "TMPDIR": str(run / "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
        # Both JVMs spark-submit starts (its launcher and the driver): keep
        # temporary files in the run and write no perf-data file in /tmp.
        "_JAVA_OPTIONS": f"-Djava.io.tmpdir={run / 'tmp'} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run)  # derby.log / spark-warehouse land here


def start_spark(run: Path):
    from datawarehouse_group10_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run / "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop any running Spark context and wait for the JVM that pyspark
    launched. Safe to call more than once, or when Spark never started."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


#: prctl option: orphaned descendants are re-parented to this process.
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, directly or
    not, so ``stop_children`` also finds those whose parent has exited
    (Python workers forked by the JVM, for one)."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_children(grace_s: float = 10.0) -> None:
    """Terminate every remaining child process and wait until each has
    ended: SIGTERM first, SIGKILL after ``grace_s``."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while kids := _children(me):
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


# -- memory -----------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeRSS:
    """Peak resident memory of the driver: the sum of the high-water marks
    of this process and its direct children (the Spark JVM, the load
    generator), sampled twice a second so a child is seen before it exits.
    Python UDF workers are forked by the JVM and share most of their pages
    with each other, so they are left out rather than counted once each."""

    def __init__(self, interval: float = 0.5):
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval,), daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = _hwm_kb(me) + sum(_hwm_kb(c) for c in _children(me))
        with self._lock:
            self.peak_kb = max(self.peak_kb, total)

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.sample()

    def __enter__(self) -> "TreeRSS":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# -- statistics and timing ----------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty sample."""
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))])


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


@contextmanager
def stopwatch(sink: list):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        sink.append(time.perf_counter() - t0)


def dir_stats(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
