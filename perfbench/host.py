"""Fit the engine to the host from the launcher, and own the JVM's life.

``session.py`` is left as it is: its defaults (``local[32]``, a 48g
driver heap) are read from environment variables, so the launcher sets
those from the host before the package is imported, and adds the
benchmark-only confs on top of ``session.apply_engine_conf``.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "architrave_project_apache_nifi_spark"
REQUIRED = (
    os.path.join(PACKAGE, "__init__.py"),
    os.path.join(PACKAGE, "session.py"),
    "bench.py",
    os.path.join("scripts", "check_oracles.py"),
)


JVM_EXIT_WAIT_S = 60.0  # then the JVM is killed


class LayoutError(RuntimeError):
    pass


def check_layout() -> None:
    """The benchmark drives the program in the checkout it sits in;
    without it there is nothing to measure."""
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        raise LayoutError(f"not a checkout of the engine: missing {missing}")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem(mem_bytes: int) -> str:
    """A quarter of host RAM, 1g to 16g: local mode runs every executor
    thread in the driver JVM, and the machine is shared."""
    gib = mem_bytes / 2**30
    return f"{max(1, min(16, int(gib / 4)))}g"


def fit_env(work: str) -> None:
    """Environment for the engine and its Python workers. Scratch space
    (Spark local dirs, JVM and Python temp files) lives under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(host_mem_bytes()),
        # mapInPandas workers import the package by name; a driver
        # started outside the repo root cannot find it otherwise
        "PYTHONPATH": os.pathsep.join(
            [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(app: str, work: str):
    """A session with the engine conf plus the benchmark's host fit."""
    from pyspark.sql import SparkSession

    from architrave_project_apache_nifi_spark.session import apply_engine_conf

    tmp = os.path.join(work, "tmp")
    builder = apply_engine_conf(
        SparkSession.builder.appName(app).master(
            f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
        )
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
        ),
        # the traced run reads every job and stage of a run back from
        # the status store, and a stream's progress from recentProgress
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def jvm_peak_rss_mb(pid: int) -> float:
    """The JVM's high-water resident set (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def jvm_heap_live_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection, in MiB:
    what the engine retains (caches, plans, status store), without the
    run-to-run swing of when the collector last ran."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    bean.gc()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            deadline = time.monotonic() + JVM_EXIT_WAIT_S
            while proc.poll() is None and time.monotonic() < deadline:
                time.sleep(0.1)
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
