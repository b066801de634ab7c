"""Spark session for the benchmark, sized from the box it runs on.

Every file Spark, the JVM and the Python workers write goes under the
benchmark's work directory inside the checkout.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def box_cores() -> int:
    return len(os.sched_getaffinity(0))


def task_slots(cores: int) -> int:
    """Spark task slots: all cores but one, which is left to the driver
    process, the JVM's own threads and the OS.  On a VM whose host steals
    CPU time, a busy last core is the one stolen from, and a pass then
    waits on its task."""
    return max(1, cores - 1)


def box_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(ram_mb: int) -> int:
    """A sixteenth of physical RAM, within [1 GiB, 2 GiB]: the inputs are
    tens of MB, and the machine is shared."""
    return min(2048, max(1024, ram_mb // 16))


def point_temp_dirs(work_dir: str) -> str:
    """Send Python's, pyspark's and the workers' temp files into work_dir.

    Must run before pyspark launches the JVM (it makes its connection-file
    directory with ``tempfile``); the JVM and the Python workers inherit
    the environment.
    """
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher too: temp files here, and no
    # hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=%s" % tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    tempfile.tempdir = tmp
    return tmp


def session_conf(work_dir: str, slots: int, ram_mb: int) -> dict:
    from html2text_spark.pipeline import recommended_session_conf

    conf = dict(recommended_session_conf())
    conf.update({
        "spark.master": "local[%d]" % slots,
        "spark.app.name": "html2text-spark-benchmark",
        "spark.driver.memory": "%dm" % driver_memory_mb(ram_mb),
        "spark.sql.shuffle.partitions": str(slots),
        "spark.default.parallelism": str(slots),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # a fixed-size heap (-Xms = -Xmx), so that peak memory does not
        # depend on when the collector chose to grow it
        "spark.driver.extraJavaOptions": "-Xms%dm" % driver_memory_mb(ram_mb),
    })
    return conf


class Cluster:
    """Owns the local Spark session and the JVM process behind it."""

    def __init__(self, conf: dict):
        self._conf = conf
        self.spark = None

    def start(self):
        """Start a session, launching a JVM if none is running."""
        from pyspark.sql import SparkSession

        builder = SparkSession.builder
        for k, v in self._conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.send_signal(signal.SIGKILL)
            proc.wait(timeout=30)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so that a Python worker that outlives the JVM
    which forked it is still this process's to wait for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def descendants(root: int) -> list:
    from probes import children_by_parent

    kids = children_by_parent()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, ()))
        todo.extend(kids.get(pid, ()))
    return out


def reap_descendants(grace_s: float = 10.0) -> None:
    """Wait until every process this one started, and every orphan it
    adopted, has exited: ``grace_s`` seconds to exit on their own (the
    Python workers exit when the JVM closes their pipe), then SIGKILL."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        while True:  # collect every child that has already exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = descendants(me)
        if not left:
            return
        if time.monotonic() > deadline + grace_s:
            raise RuntimeError("processes %s did not exit after SIGKILL" % left)
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
