"""SparkSession builder tuned for this engine.

Local-mode testing uses ``local[N]``; the configs below are the ones
that also matter on a real cluster (AQE, shuffle partitions, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_MEM_CAP_MB = 48 * 1024
# Compiled whole-stage classes kept per JVM. One TVP embed with its
# extraction generates over 100 distinct classes, Spark's default; at
# that size the LRU evicts classes the next run of the same pipeline
# needs, and each run recompiles 50-90 of them (Janino, then the JIT
# from scratch), a count that varies with stage order.
CODEGEN_CACHE_ENTRIES = 1000
#: the Python worker daemon module (see :func:`get_spark`)
WORKER_DAEMON = "vector_database_watermarking_spark._worker_daemon"


def default_driver_memory() -> str:
    """Half of physical RAM (``MemTotal`` in ``/proc/meminfo``), capped
    at 48g; the cap itself where ``/proc/meminfo`` is unreadable. In
    local mode the driver heap is the whole engine's heap, so a fixed
    48g on a smaller host lets the kernel OOM-kill the JVM mid-run."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(kb // 2048, DRIVER_MEM_CAP_MB)}m"


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run
    on (its affinity mask, which a container's cpuset narrows below
    ``os.cpu_count()``)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(app_name: str = "vdb_wm_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Scale notes (100 TB design point): ``spark.sql.shuffle.partitions``
    here matches local cores, but AQE STARTS every exchange at
    ``initialPartitionNum`` = 8x that and coalesces down — one config
    that serves both ends of the scale range (measured, SCALING.md
    round 11): at sf0.1 the wide start is neutral-to-slightly-faster
    (AQE coalesces small stages back to a handful of partitions), and
    at the 600M-row sf100 fixture it is the difference between ~19M
    rows per shuffle partition (spill + GC thrash: Q8 at 73-190 s) and
    memory-resident partitions (41.7 s). Stateful STREAMING queries
    are unaffected — AQE is disabled there, so their state
    partitioning still comes from ``shuffle.partitions``, which is why
    that stays at core count rather than 8x. Arrow is on so pandas-UDF
    hot paths batch-transfer instead of pickling rows. The codegen
    cache holds :data:`CODEGEN_CACHE_ENTRIES` classes, so a repeated
    pipeline reuses its compiled stages. ``cpus`` defaults
    to :func:`default_cpus`; the driver heap is
    :func:`default_driver_memory` unless ``SPARK_DRIVER_MEM`` is set.

    Python workers start from :data:`WORKER_DAEMON`
    (``spark.python.daemon.module``). Stock workers import PySpark from
    Spark's ``pyspark.zip``, and every task's
    ``importlib.invalidate_caches()`` re-reads the 16 zip importers that
    leaves: a fixed ~0.1 s per task of every ``mapInPandas`` and pandas
    UDF. The daemon drops Spark's zip and jar entries from the workers'
    ``sys.path`` when site-packages holds the same PySpark and py4j
    (byte-equal ``version.py``), and leaves the path exactly as Spark
    set it otherwise. Like the package's UDFs, which cloudpickle sends
    by reference, it must be importable by the workers: from their
    working directory or ``PYTHONPATH``.
    """
    if cpus is None:
        cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(cpus * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", WORKER_DAEMON)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
