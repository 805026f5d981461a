"""Session sized to the machine, with every file it writes kept under the
benchmark's work directory.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """An eighth of physical memory."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return kb // 8 // 1024


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot,
    summed over its CPUs (0 on bare metal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def configure() -> None:
    """Set the environment the program and its Spark workers read. Must
    run before the first session starts the JVM."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # the Arrow/pandas workers import renard_spark from the repo root,
    # whatever directory the benchmark is launched from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["RENARD_SPARK_DRIVER_MEM"] = f"{heap_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")


def start_session():
    from renard_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # the status store must keep every job of a run for tracing
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def stop_jvm() -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
