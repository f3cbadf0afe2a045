"""Process-level plumbing for the benchmark: the Spark session it drives,
the memory sampler behind `peak_rss_mb`, on-disk sizes, and the shutdown that
leaves no JVM or Python worker behind.

Everything the benchmark writes (inputs, outputs, Spark local dirs, JVM
temp files, event logs) lives under one work directory inside the
checkout, which the caller removes when the run ends.
"""

from __future__ import annotations

import os
import signal
import sys
import tempfile
import threading
import time

CORES = 4
SHUFFLE_PARTITIONS = 4
DRIVER_MEM = "3g"


def prepare_env(root, work):
    """Point every temp/scratch location of the driver, the JVM and the
    Python workers into `work`, and make `sift_spark` (and this package)
    importable by the workers. Must run before the first Spark import
    starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SIFT_SPARK_DRIVER_MEM"] = DRIVER_MEM
    # no /tmp/hsperfdata_<user> from the launcher JVM that spark-submit
    # starts first (the driver JVM gets the same flag in start_session)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tempfile.tempdir = tmp


def start_session(work, event_log_dir=None):
    """Start (or restart) the benchmark's Spark session through the
    program's own factory. Returns (spark, seconds), where seconds covers
    getOrCreate plus one tiny warm job that launches the Python workers,
    so the first measured step does not pay for them."""
    from pyspark.sql import functions as F

    from sift_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write its perf
        # counters to /tmp/hsperfdata_<user>, outside the work directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    # options given to get_spark outlive a stopped session in PySpark: say
    # "false" explicitly, or a restart inherits the previous event log
    conf["spark.eventLog.enabled"] = "false"
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=CORES,
                      shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")

    @F.pandas_udf("long")
    def _plus_one(v):
        return v + 1

    spark.range(CORES * 4, numPartitions=CORES).select(
        _plus_one("id")).collect()
    return spark, time.perf_counter() - t0


def shutdown_jvm(timeout=60):
    """End the py4j gateway JVM (and with it the Python daemon and
    workers), then wait until no child process of ours is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 -- already gone is fine
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 -- fall through to kill
                proc.kill()
                proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            _reap(left)
            return
        _reap(left)
        time.sleep(0.2)


def _reap(pids):
    for pid in pids:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


def descendants(root_pid):
    """All live descendant pids of root_pid, from /proc."""
    children = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        rest = stat[stat.rfind(b")") + 2:].split()
        if rest[0] == b"Z":
            continue
        children.setdefault(int(rest[1]), []).append(int(name))
    out, stack = [], [root_pid]
    while stack:
        for child in children.get(stack.pop(), ()):
            out.append(child)
            stack.append(child)
    return out


def _pss_bytes(pid):
    """Proportional set size: resident pages, with each page shared by n
    processes (the forked Python workers share most of theirs with the
    daemon) counted 1/n times, so the sum over processes counts it once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """One background thread summing the resident memory (PSS) of every
    descendant process (the driver JVM, the Python daemon and its
    workers) every `interval` seconds. `reset()` starts a new window; `peak_mb()` is the largest
    sum seen in the current window."""

    def __init__(self, interval=0.2):
        self._interval = interval
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(pid) for pid in descendants(me))
            with self._lock:
                self._peak = max(self._peak, total)
            self._stop.wait(self._interval)

    def reset(self):
        with self._lock:
            self._peak = 0

    def peak_mb(self):
        with self._lock:
            return self._peak / 1e6


def tree_bytes(path):
    """Bytes of every regular file under path (Spark's .crc side files
    and _SUCCESS markers included: they are part of what a sink costs)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total
