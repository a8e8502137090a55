"""Self-distribution of the engine package to Python workers.

Cluster deployment is ``spark-submit --py-files engine.zip``; when the
engine is imported into an already-running session (e.g. the driver
harness), ``ensure_on_executors`` ships the same zip at runtime via
``SparkContext.addPyFile`` so worker-side unpickling of our pandas-UDF
kernels resolves the package regardless of the driver's cwd/sys.path.
Idempotent per SparkContext.

Every Python task starts with ``importlib.invalidate_caches()``, which makes
each ``zipimporter`` on ``sys.path`` re-read its archive's directory —
``pyspark.zip`` once per importer of its subpackages, the Spark jar, this
zip — although none of them changes while a worker lives.
``install_zip_dir_cache`` (run when the package is imported, so in every
worker that has unpickled one of its kernels) makes that re-read
conditional on the archive's (mtime, size) having changed.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_zip_path: str | None = None
_added_to: set[str] = set()


def build_pkg_zip() -> str:
    """Zip parallel_dataflow_spark into a stable temp file (once/process)."""
    global _zip_path
    if _zip_path and os.path.exists(_zip_path):
        return _zip_path
    fd, path = tempfile.mkstemp(prefix="parallel_dataflow_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            if "__pycache__" in root:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "parallel_dataflow_spark", os.path.relpath(full, _PKG_DIR)
                )
                zf.write(full, rel)
    _zip_path = path
    return path


def ensure_on_executors(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _added_to:
        return
    sc.addPyFile(build_pkg_zip())
    _added_to.add(key)


def install_zip_dir_cache() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` differs from the last read. An archive
    that cannot be stat'ed (deleted, e.g. the previous SparkContext's
    ``userFiles`` zip still on this process's ``sys.path``) goes to the
    original method, which drops it. Idempotent."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_reads_on_change", False):
        return
    read_sig: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_sig.pop(self.archive, None)
            return original(self)
        sig = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_sig.get(self.archive) == sig:
            self._files = files
            return
        original(self)
        read_sig[self.archive] = sig

    invalidate_caches._reads_on_change = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
