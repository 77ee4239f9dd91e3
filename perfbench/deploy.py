"""Pinned deployment settings, recorded in every result."""

from __future__ import annotations

import os
import platform


# The inputs are a few MB. A fixed-size heap (initial = maximum) keeps the
# JVM from resizing it run by run, so peak memory repeats.
HEAP = "1g"


def task_threads() -> int:
    """Spark task threads: half the usable CPUs, at least one. The
    other half is left to the driver's own threads (scheduler, JIT, GC)
    and the Python client, so the run never asks for more CPUs than the
    machine has. On a 4-vCPU VM this ran the search queries about 10%
    faster than one task thread per CPU, and the dedup passes and served
    queries as fast."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def jvm_options() -> str:
    # GC workers match the task threads. The whole fixed heap is touched
    # at start: how much of it a run touches otherwise follows the GC's
    # pause-time tuning, which follows the host's speed, and made peak
    # memory jump by 8% between runs of the same code.
    return f"-Xms{HEAP} -XX:ParallelGCThreads={task_threads()} -XX:+AlwaysPreTouch"


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin(work_dir: str) -> dict:
    """Set the engine's deployment environment for this process: the
    task threads of ``task_threads``, Spark scratch space and temp files
    inside the run's work directory, and a driver heap well below the
    machine's memory (local mode runs every executor thread in the
    driver JVM)."""
    if _mem_total_gb() < 4:
        raise RuntimeError("perfbench needs at least 4 GB of memory")
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(task_threads()),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "TMPDIR": tmp,
        # every JVM (the launcher and the driver): temp files inside the
        # work directory, and no /tmp/hsperfdata_* file
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return {**env, "driver_java_options": jvm_options()}


def spark_conf(work_dir: str) -> dict:
    return {
        "spark.driver.extraJavaOptions": jvm_options(),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def versions(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "mem_total_gb": round(_mem_total_gb(), 1),
    }
