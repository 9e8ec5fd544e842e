"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the sandbox (local[N], single JVM) but expressed exactly as it
would be on a 1000-executor cluster: AQE on (runtime re-plan + skew-join
splitting, SURVEY.md §4 O7), Arrow transport for every pandas UDF, shuffle
partitions sized to parallelism rather than the 200 default.

Sized from the machine it runs on: ``local[N]`` is capped at the cores this
process may use, and the default driver heap is a quarter of physical RAM
(the rest is left to the Python workers and the tmpfs shuffle dir).
``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEM`` override the defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOST_CPUS = len(os.sched_getaffinity(0))
DEFAULT_CPUS = min(int(os.environ.get("SPARK_GRAFT_CPUS", HOST_CPUS)),
                   HOST_CPUS)


def default_driver_mem() -> str:
    """A quarter of MemTotal, between 1 GiB and the old 48 GiB default."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    return f"{max(1024, min(48 * 1024, mem_kb // 1024 // 4))}m"


def tmpfs_local_dir(path: str = "/dev/shm/spark-local") -> str | None:
    """Shuffle/spill dir on tmpfs when available, else None.

    Local-mode shuffles otherwise serialize on one overlay disk and flatten
    the core-count scaling a cluster's distributed shuffle fabric would
    provide. ``SPARK_LOCAL_DIRS`` overrides ``spark.local.dir``, so when it
    is set the dir is not made at all.
    """
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return None
    try:
        os.makedirs(path, exist_ok=True)
    except OSError:
        return None
    return path


def get_spark(app: str = "air_health_gis_tools_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = min(cpus or DEFAULT_CPUS, HOST_CPUS)
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
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
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem())
        .config("spark.ui.enabled", "false")
        # pyspark.daemon minus the per-task zipimport directory re-read;
        # the workers find it (and the package) whatever their cwd
        .config("spark.python.daemon.module",
                "air_health_gis_tools_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PKG_ROOT)
    )
    local_dir = tmpfs_local_dir()
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
