"""The per-worker zip-directory cache (pkgzip.install_zip_dir_cache):
``importlib.invalidate_caches()`` re-reads a zip archive on ``sys.path``
only when it changed, still sees a rewritten archive, and survives a
deleted one. The first four tests need no Spark; the last two check that
``get_spark`` sessions fork their Python workers from a daemon that has the
cache installed."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from parallel_dataflow_spark import pkgzip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def daemon_probe():
    """A closure pandas UDF, pickled by value and naming only os, zipimport
    and pandas (like the MinHash and k-NN kernels), so running it does not
    import the package. Each row reads ``"<cache installed>|<module the
    worker's parent daemon runs>"``."""
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    @F.pandas_udf(T.StringType())
    def probe(x: pd.Series) -> pd.Series:
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
        daemon = argv[argv.index(b"-m") + 1].decode() if b"-m" in argv else "?"
        cached = getattr(zipimport.zipimporter.invalidate_caches, "_reads_on_change", False)
        return pd.Series([f"{cached}|{daemon}"] * len(x))

    return probe


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``zc_mod_a`` on sys.path; yields (path, reads),
    where ``reads`` lists every archive whose directory is read."""
    path = str(tmp_path / "zc.zip")
    _write_zip(path, {"zc_mod_a": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    pkgzip.install_zip_dir_cache()
    sys.path.insert(0, path)
    try:
        importlib.import_module("zc_mod_a")
        yield path, reads
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert path not in reads
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_rewritten_archive_exposes_new_module(archive):
    path, _ = archive
    importlib.invalidate_caches()
    _write_zip(path, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_b").Y == 2


def test_deleted_archive_falls_back(archive):
    path, _ = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert sys.path_importer_cache[path]._files == {}


def test_build_pkg_zip_reuses_the_zip_it_was_imported_from(tmp_path):
    """Under ``spark-submit --py-files engine.zip`` the package is imported
    from that zip, which has no directory to walk: build_pkg_zip must hand
    back the zip itself, as the worker daemon imports the package from it."""
    script = textwrap.dedent(
        """
        import zipfile
        from parallel_dataflow_spark import pkgzip
        path = pkgzip.build_pkg_zip()
        print(path, "parallel_dataflow_spark/daemon.py" in zipfile.ZipFile(path).namelist())
        """
    )
    zip_path = pkgzip.build_pkg_zip()
    env = dict(os.environ, PYTHONPATH=zip_path)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split() == [zip_path, "True"]
    assert os.path.isfile(zip_path)  # not removed by the process that reused it


def test_built_zip_is_removed_at_exit(tmp_path):
    """The zip build_pkg_zip writes to the temp dir goes when its process
    exits, so sessions leave no zip behind."""
    script = textwrap.dedent(
        """
        import os
        from parallel_dataflow_spark import pkgzip
        path = pkgzip.build_pkg_zip()
        print(path, os.path.isfile(path))
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    path, built = out.stdout.split()
    assert os.path.dirname(path) == str(tmp_path) and built == "True"
    assert list(tmp_path.glob("parallel_dataflow_spark_*.zip")) == []


def test_session_round_trip_with_deleted_userfiles_zip(tmp_path):
    """stop_spark() deletes the application's userFiles directory, but the
    package zip addPyFile put there stays on sys.path with a cached
    zipimporter; the next get_spark()'s addPyFile invalidates it. The second
    session also runs a Python UDF, so its relaunched daemon must import
    the package from the zip on the executors' PYTHONPATH. Runs in a fresh
    interpreter so the suite's session is left alone."""
    script = textwrap.dedent(
        f"""
        import importlib, os, sys, zipimport
        sys.path.insert(0, {REPO!r})
        from parallel_dataflow_spark.session import get_spark, stop_spark

        assert zipimport.zipimporter.invalidate_caches._reads_on_change
        get_spark("zipcache1", master="local[1]", shuffle_partitions=1)
        (old,) = [p for p in sys.path if "userFiles" in p and p.endswith(".zip")]
        try:
            importlib.import_module("zc_no_such_module")
        except ImportError:
            pass
        assert isinstance(sys.path_importer_cache[old], zipimport.zipimporter)
        stop_spark()
        assert not os.path.exists(old)
        spark = get_spark("zipcache2", master="local[1]", shuffle_partitions=1)
        assert spark.range(5).count() == 5
        sys.path.insert(0, os.path.join({REPO!r}, "tests"))
        from test_pkgzip import daemon_probe
        rows = spark.range(0, 4, 1, 2).select(daemon_probe()("id")).collect()
        assert {{r[0] for r in rows}} == {{"True|parallel_dataflow_spark.daemon"}}, rows
        stop_spark()
        print("round trip ok")
        """
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "round trip ok" in out.stdout


def test_closure_kernel_worker_has_cache(spark):
    """A worker that never imports the package still skips the per-task
    re-read: its parent daemon installed the cache before forking it."""
    rows = spark.range(0, 8, 1, 4).select(daemon_probe()("id")).collect()
    assert {r[0] for r in rows} == {"True|parallel_dataflow_spark.daemon"}, rows
