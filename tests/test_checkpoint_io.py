"""Streaming checkpoint I/O of ``get_spark`` sessions: on a local master
they commit offsets, commits and state through Spark's FileSystem-based
checkpoint manager, which renames without Hadoop's per-rename ``readlink``
shell-outs and keeps the ``.crc`` sidecars; a checkpoint written by
Spark's default FileContext-based manager still resumes under it."""

import contextlib
import os
import shutil
import subprocess
import sys
import textwrap

from test_cep_resume import kill_and_resume

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "spark.sql.streaming.checkpointFileManagerClass"
PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def test_cep_job_spawns_no_readlink(tmp_path):
    """Counts the JVM's ``readlink`` children with a logging wrapper first
    on the driver's PATH (the JVM inherits it). Runs in a fresh interpreter
    so the wrapper is in place before the session's JVM starts."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "readlink.log"
    wrapper = bin_dir / "readlink"
    # logs the spawning process's name: a pyenv shim's own readlink calls
    # (bash) are not the JVM's
    wrapper.write_text(
        "#!/bin/sh\nread -r comm < /proc/$PPID/comm\n"
        f'echo "$comm" >> "{log}"\nexec {shutil.which("readlink")} "$@"\n'
    )
    wrapper.chmod(0o755)
    script = textwrap.dedent(
        f"""
        import os, sys
        sys.path.insert(0, {REPO!r})
        sys.path.insert(0, os.path.join({REPO!r}, "tests"))
        from parallel_dataflow_spark.session import get_spark, stop_spark
        from parallel_dataflow_spark.streaming.jobs import run_cep_job
        from test_cep_resume import PATTERN, _write_src, canon

        spark = get_spark("ckptio", master="local[1]", shuffle_partitions=1)
        print("manager", spark.conf.get({KEY!r}, "unset"))
        _write_src(spark, "src")
        q, sink = run_cep_job(
            spark, "src", "work", PATTERN, watermark="1 minute",
            max_files_per_trigger=1,
        )
        q.processAllAvailable()
        q.stop()
        print("matches", len(canon(sink, spark)))
        print("crc", os.path.exists("work/checkpoint/offsets/.0.crc"))
        stop_spark()
        """
    )
    env = dict(
        os.environ,
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        SPARK_DRIVER_MEMORY="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines() if " " in line)
    assert int(lines["matches"]) > 0
    spawners = log.read_text().split() if log.exists() else []
    assert spawners.count("java") == 0, f"{spawners.count('java')} readlink spawns"
    assert lines["manager"] == PKG + "FileSystemBasedCheckpointFileManager"
    assert lines["crc"] == "True"


@contextlib.contextmanager
def checkpoint_manager(spark, cls):
    """Run the block with ``cls`` as the session's checkpoint manager, then
    restore the value the session had (``unset`` would fall back to Spark's
    default, not to get_spark's)."""
    original = spark.conf.get(KEY)
    spark.conf.set(KEY, PKG + cls)
    try:
        # the Hadoop conf CheckpointFileManager.create reads the class from
        assert spark._jsparkSession.sessionState().newHadoopConf().get(KEY) == PKG + cls
        yield
    finally:
        spark.conf.set(KEY, original)


def test_filecontext_checkpoint_resumes(spark, tmp_path):
    """A CEP checkpoint cut mid-stream under Spark's default manager
    resumes under the FileSystem-based one to the uninterrupted result."""
    assert spark.conf.get(KEY) == PKG + "FileSystemBasedCheckpointFileManager"
    first_leg = checkpoint_manager(spark, "FileContextBasedCheckpointFileManager")
    want, got = kill_and_resume(spark, tmp_path, first_leg)
    assert got == want
