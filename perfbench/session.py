"""Host-derived Spark session for the benchmark.

Task slots, shuffle width and driver memory come from the machine the
run is on (``os.sched_getaffinity`` and ``/proc/meminfo``), never from a
fixed profile. There are no quiet-wait, spin, steal or sys gauges: steadiness
comes from repeated runs and medians.
"""

from __future__ import annotations

import os


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_mem_mb() -> int:
    """MemTotal from /proc/meminfo in MiB (4 GiB where it is missing)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 4096


def task_slots() -> int:
    """Half the host's cores, at least one: the other half is left to
    what runs beside Spark's task threads, the Python workers of the
    pandas UDF stages, the JVM's GC and JIT threads and the client."""
    return max(1, host_cores() // 2)


def driver_memory_mb() -> int:
    """A quarter of the host's memory, between 1 and 8 GiB: local mode
    runs driver and executors in one JVM, and the machine is shared."""
    return max(1024, min(8192, host_mem_mb() // 4))


def make_session(root: str, event_log_dir: str | None = None):
    """local[task_slots()] session with UI, progress bars and INFO logging
    off, UTC timestamps, and Python workers that import ``tank_spark`` from
    ``root``. ``event_log_dir`` turns on Spark's JSON event log there."""
    from pyspark.sql import SparkSession

    n = task_slots()
    tmp = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    if root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, path) if p)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(tmp, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
