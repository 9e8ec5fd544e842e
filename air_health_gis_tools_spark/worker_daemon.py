"""PySpark worker daemon without the per-task zip directory re-read.

Before every task a forked worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython ≥ 3.10 that makes
each cached ``zipimporter`` re-read its archive's directory — about 16
importers over ``pyspark.zip``'s 1328 entries, ~0.2 s of worker CPU per
task (CPython 3.11, PySpark 4.1, 4-core host). The archives on a
worker's path never change while it runs, so the re-read is a no-op here. Started via ``spark.python.daemon.module``
(``session.get_spark``); everything else is ``pyspark.daemon`` unchanged.
"""

import zipimport

zipimport.zipimporter.invalidate_caches = lambda self: None

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
