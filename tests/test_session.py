"""Session sizing and the Python worker daemon (``session.get_spark``)."""

from __future__ import annotations

import os

from air_health_gis_tools_spark.session import (default_driver_mem,
                                                tmpfs_local_dir)


def test_session_is_sized_from_the_host(spark):
    master = spark.sparkContext.master
    assert master.startswith("local[")
    assert 1 <= int(master[len("local["):-1]) <= len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:")) // 1024
    heap_mb = int(default_driver_mem().rstrip("m"))
    assert 1024 <= heap_mb <= max(1024, mem_mb // 4)


def test_tmpfs_local_dir_yields_to_spark_local_dirs(tmp_path, monkeypatch):
    """SPARK_LOCAL_DIRS overrides spark.local.dir, so the tmpfs dir is
    neither set nor created then; without it the dir is made and used."""
    shm = tmp_path / "spark-local"
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    assert tmpfs_local_dir(str(shm)) is None
    assert not shm.exists()
    monkeypatch.delenv("SPARK_LOCAL_DIRS")
    assert tmpfs_local_dir(str(shm)) == str(shm)
    assert shm.is_dir()


def test_python_workers_come_from_worker_daemon(spark):
    """Every Python task runs in a worker forked from the package's
    daemon module, which makes the per-task zip re-read a no-op."""
    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        main = getattr(sys.modules["__main__"].__spec__, "name", None)
        noop = zipimport.zipimporter.invalidate_caches.__name__ == "<lambda>"
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"main": [main],
                                              "noop": [noop]})

    rows = (spark.range(8, numPartitions=4)
            .mapInArrow(probe, "main string, noop boolean").collect())
    assert rows and all(
        r["main"] == "air_health_gis_tools_spark.worker_daemon" and r["noop"]
        for r in rows)
