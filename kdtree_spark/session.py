"""SparkSession factory tuned for the local[N] sandbox; the same settings
scale out (AQE, Arrow, skew-join) on a real cluster via spark-submit."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package so executors can import it — the local-mode
    equivalent of `spark-submit --py-files kdtree_spark.zip`."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "kdtree_spark_pyfiles.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join("kdtree_spark",
                                       os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    return out


_CGROUP_MEM_LIMITS = ("/sys/fs/cgroup/memory.max",                  # v2
                      "/sys/fs/cgroup/memory/memory.limit_in_bytes")  # v1


def _memory_limit() -> int:
    """Bytes this process may use: physical RAM, or the container's
    cgroup memory limit when that is smaller."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEM_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            ram = min(ram, int(limit))
    return ram


def default_driver_memory() -> str:
    """Half of the memory this process may use (_memory_limit), capped
    at 48g (the driver is also every local[N] executor, and shares the
    host with Python UDF workers)."""
    return f"{max(1, min(48, _memory_limit() // 2 // 2**30))}g"


def get_spark(app: str = "kdtree_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local session sized to this host unless SPARK_GRAFT_CPUS /
    SPARK_GRAFT_DRIVER_MEM (or `cpus`) say otherwise: one task slot per
    CPU this process may run on, and default_driver_memory()."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                                  len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(_package_zip())
    return spark
