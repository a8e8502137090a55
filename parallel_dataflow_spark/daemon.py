"""PySpark worker daemon for sessions built by ``get_spark``
(``spark.python.daemon.module``). Importing the package installs the
zip-directory cache, and one ``invalidate_caches()`` records the archives
already read, before ``pyspark.daemon.manager()`` forks any worker: every
worker inherits both, whatever kernel its tasks run."""

import importlib

import parallel_dataflow_spark  # noqa: F401  (installs the cache)
from pyspark.daemon import manager

if __name__ == "__main__":
    importlib.invalidate_caches()
    manager()
