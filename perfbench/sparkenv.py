"""A hermetic Spark session for one benchmark run.

Every file Spark, the JVM and the Python workers write goes under the
run's work directory inside the checkout; executors import the program
from the checkout whatever the current directory; the JVM and its
Python workers are stopped and waited for before the run ends.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

# The session factory's default (8g) sizes a cluster driver; the inputs
# here are small and the machine may be shared.  The heap is committed
# and touched whole at start-up (-Xms, AlwaysPreTouch): left to grow,
# G1 sizes it differently from run to run, and peak_rss_mb would follow
# that rather than the program's memory.
DRIVER_MEMORY = "1g"
LOG_LEVEL = "ERROR"


def prepare_environment(repo, work):
    """Set the process environment the JVM and workers inherit.  Must
    run before the first SparkSession is created."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # spark-submit's launcher JVM would write its perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=%s" % tmp)
    # the program's session factory sizes itself from this
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    if repo not in sys.path:
        sys.path.insert(0, repo)


def session_conf(work, shuffle_partitions, event_log_dir=None):
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=%s -XX:-UsePerfData -Xms%s -XX:+AlwaysPreTouch"
            % (tmp, DRIVER_MEMORY),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # one scan partition per input file at every parallelism (files
        # stay under 1 MiB), so both scaling legs split the input alike
        "spark.sql.files.maxPartitionBytes": str(1 << 20),
        "spark.sql.files.openCostInBytes": str(1 << 20),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    else:
        conf["spark.eventLog.enabled"] = "false"
    return conf


def start_session(master, work, shuffle_partitions, event_log_dir=None):
    """A session on ``master`` through the program's own factory."""
    from rdf_canonize_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=shuffle_partitions,
        extra_conf=session_conf(work, shuffle_partitions, event_log_dir),
    )
    spark.sparkContext.setLogLevel(LOG_LEVEL)
    return spark


def shutdown_jvm(timeout=60):
    """Stop the gateway JVM and wait until it and every process below
    this one (Python workers included) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(10)
    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


# --- /proc process accounting (psutil is not available) ----------------

def _children_map():
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name, "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid):
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _rss_bytes(pid):
    try:
        with open("/proc/%d/statm" % pid, "rb") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed resident memory of every process below this one (the
    driver JVM and its Python workers), sampled from /proc; ``lap()``
    returns the peak since the previous lap, in MiB."""

    def __init__(self, interval=0.05):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(me))
            with self._lock:
                self._peak = max(self._peak, total)
            self._stop.wait(self.interval)

    def lap(self):
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak / (1 << 20)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class SlotHold:
    """Hold ``n`` task slots of a local session with sleeping JVM tasks,
    so jobs run meanwhile get the remaining slots only: with all but one
    held, a ``local[nproc]`` session schedules like ``local[1]``.

    Each holding task creates a marker file in the JVM's temp directory
    before it sleeps; the hold is in place once ``n`` markers exist (the
    status tracker reports running tasks seconds late)."""

    PREFIX = "perfbench-hold-"
    # data dependency: the marker is created before the sleep starts
    HOLD_SQL = ("reflect('java.lang.Thread', 'sleep', cast(length(reflect("
                "'java.io.File', 'createTempFile', '%s', '.tmp')) * 0 "
                "+ 3600000 as bigint))" % PREFIX)

    def __init__(self, spark, n, work, timeout=60):
        self.spark, self.n, self.timeout = spark, n, timeout
        self.tmp = os.path.join(work, "tmp")
        self.group = "perfbench-slot-hold"
        self._thread = None

    def _hold(self):
        self.spark.sparkContext.setJobGroup(
            self.group, "hold task slots", interruptOnCancel=True)
        try:
            self.spark.range(0, self.n, 1, self.n).selectExpr(
                self.HOLD_SQL).collect()
        except Exception:  # noqa: BLE001 -- the cancel in __exit__ ends it
            pass

    def _markers(self):
        return [f for f in os.listdir(self.tmp) if f.startswith(self.PREFIX)]

    def __enter__(self):
        if self.n == 0:
            return self
        self._thread = threading.Thread(target=self._hold, daemon=True)
        self._thread.start()
        deadline = time.time() + self.timeout
        while len(self._markers()) < self.n:
            if time.time() > deadline or not self._thread.is_alive():
                raise RuntimeError("could not hold %d task slots" % self.n)
            time.sleep(0.005)
        return self

    def __exit__(self, *exc):
        if self._thread is None:
            return
        sc = self.spark.sparkContext
        sc.setLogLevel("OFF")  # the cancelled sleeps log as task errors
        try:
            sc.cancelJobGroup(self.group)
            self._thread.join(self.timeout)
        finally:
            sc.setLogLevel(LOG_LEVEL)
        for f in self._markers():
            os.remove(os.path.join(self.tmp, f))
        if self._thread.is_alive():
            raise RuntimeError("held task slots were not released")
