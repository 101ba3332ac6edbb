"""Spark session sized from the box, and its clean shutdown.

``local[nproc]``; driver heap a quarter of MemTotal (Python workers live
outside the heap and need the rest); shuffle partitions 2 x nproc. The
Arrow batch is fixed at 65,536 rows so batch shape never depends on the
box. Every scratch file Spark, the JVM and Python workers write goes
under the run's work directory.
"""

from __future__ import annotations

import os
import subprocess
import tempfile
import time

from .tracing import alive

ARROW_BATCH_ROWS = 65536


def box() -> dict:
    """nproc, MemTotal and load average of the machine."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": list(os.getloadavg()),
    }


def settings(b: dict, work: str) -> dict:
    """Spark settings derived from ``box()``, with scratch under ``work``."""
    n = b["nproc"]
    heap_mb = min(max(b["mem_total_mb"] // 4, 1024), 16384)
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.default.parallelism": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file in /tmp; JVM temp files in the work dir
        "spark.driver.extraJavaOptions": (
            "-XX:+UseG1GC -XX:MaxGCPauseMillis=50 -XX:G1HeapRegionSize=32m "
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }


def start(conf: dict, root: str, work: str, worker_module: str | None = None):
    """Start the session. Workers import the package straight from the
    checkout (``root`` on PYTHONPATH); ``worker_module`` names a custom
    worker entry (the traced run's span recorder)."""
    for d in ("spark-local", "tmp", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    paths = [root, os.path.join(root, "perfbench", "workerpath")]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp  # Python workers
    tempfile.tempdir = tmp  # this process (the gateway's connection file)
    # the launcher JVM spark-submit runs before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    if worker_module:
        b = b.config("spark.python.worker.module", worker_module)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, known_pids: set[int], timeout_s: float = 60.0) -> None:
    """Stop the session, end the JVM, and wait until every Python worker
    seen during the run has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout_s
    left = {p for p in known_pids if alive(p)}
    while left and time.time() < deadline:
        time.sleep(0.1)
        left = {p for p in left if alive(p)}
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass
