"""Process plumbing shared by every workload: where the benchmark may
write, how a Spark session is started and fully stopped, the host-health
sentinel, the settle-before-timing wait, process-tree RSS sampling and
order-insensitive output digests.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``:
Spark's local dirs, the JVM temp dir, generated inputs, outputs, event
logs and trace files. Nothing is read from outside the checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from pathlib import Path
from typing import Dict, Iterable, List, Optional, Sequence

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
DATA = Path(__file__).resolve().parent / "data"

# the Spark session width every end-to-end number is taken at (what
# `nproc` reports); scaling_eff's other leg is local[1]
CORES = len(os.sched_getaffinity(0))


def check_program() -> None:
    """Fail fast (before any JVM starts) when the program under test is
    not in the checkout."""
    missing = [p for p in ("edspdf_spark/__init__.py", "__spark_entry__.py")
               if not (ROOT / p).is_file()]
    if missing:
        raise SystemExit(f"perfbench: program files missing from {ROOT}: "
                         f"{', '.join(missing)}")


def prepare_env(work: Path) -> None:
    """Point every temp location of this process and its children into
    the work dir, and let Python workers import the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)  # tempfile caches the first TMPDIR it saw
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p and p != str(ROOT)]
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(cores: int, work: Path, event_log: Optional[Path] = None):
    """SparkSession on local[cores] with bench.py's execution settings
    (shuffle partitions = cores, AQE on, 512-row Arrow batches)."""
    from pyspark.sql import SparkSession

    # The JVM keeps its default compilers, as the shipped job runs it;
    # the run's warm-up passes absorb most of the optimizing compiler's
    # warm-up (see run.py).
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    b = (SparkSession.builder
         .master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "3g")
         .config("spark.driver.extraJavaOptions", java_opts)
         .config("spark.local.dir", str(work / "spark-local"))
         .config("spark.sql.warehouse.dir", str(work / "warehouse")))
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_log.as_uri())
             .config("spark.eventLog.rolling.enabled", "false")
             .config("spark.eventLog.compress", "false"))
    else:
        b = b.config("spark.eventLog.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and its JVM, then wait until the JVM and every
    process it started (the Python worker daemon and its workers) have
    exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    below = descendants(os.getpid())
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in below):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """Running, not exited (a zombie left to init counts as exited)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> List[int]:
    """Every process below pid, from one pass over /proc."""
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        kids.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(
            int(d))
    todo, seen = [pid], []
    while todo:
        for c in kids.get(todo.pop(), ()):
            seen.append(c)
            todo.append(c)
    return seen


def tree_rss_mb(pid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total / 1e6


class RssSampler:
    """Peak summed RSS of this process and all its descendants (JVM,
    Python worker daemon, workers), sampled on a thread while active."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.period_s)


def host_health() -> dict:
    """bench.py's host-speed sentinel, unchanged: a single-core md5
    chain and three multithreaded 2k x 2k matmuls."""
    t0 = time.perf_counter()
    x = b"x" * 1000
    for _ in range(200_000):
        x = hashlib.md5(x).digest() * 62 + b"xx"
    md5_s = time.perf_counter() - t0
    import numpy as np

    a = np.random.RandomState(0).rand(2000, 2000)
    t0 = time.perf_counter()
    for _ in range(3):
        a @ a
    return {"host_md5_200k_s": md5_s,
            "host_matmul_2k_s": time.perf_counter() - t0}


def cpu_times() -> Sequence[int]:
    """(total, idle + iowait, steal) jiffies of the whole machine."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals), vals[3] + vals[4], vals[7]


def busy_cores(window_s: float = 0.5) -> float:
    t0, i0, _ = cpu_times()
    time.sleep(window_s)
    t1, i1, _ = cpu_times()
    if t1 == t0:
        return 0.0
    return (1 - (i1 - i0) / (t1 - t0)) * (os.cpu_count() or 1)


def settle(cores: int, max_wait_s: float = 15.0) -> dict:
    """Wait until other processes keep fewer than half of the benched
    cores busy, measured over half-second windows (bench.py waits on the
    1-minute load average, which would still carry the previous run's
    load for a minute). Gives up after max_wait_s so a busy host still
    yields a run; the wait and the last reading are recorded."""
    t0 = time.perf_counter()
    busy = busy_cores()
    while busy > cores * 0.5 and time.perf_counter() - t0 < max_wait_s:
        busy = busy_cores()
    return {"settle_wait_s": time.perf_counter() - t0,
            "settle_busy_cores": busy}


def digest(rows: Iterable[Sequence]) -> str:
    """Order-insensitive digest of rows (each a sequence of JSON-able
    values)."""
    enc = sorted(json.dumps(list(r), ensure_ascii=False,
                            separators=(",", ":")) for r in rows)
    h = hashlib.sha256()
    for line in enc:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def dir_size(path: Path) -> tuple:
    """(MB, files) of every regular file below path."""
    n, size = 0, 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return size / 1e6, n
