"""Streaming exact-dedup job: stream-vs-batch differential over a source
with genuine duplicates (the table written twice), plus the kill/resume
exactly-once protocol shared with the other deployable jobs."""

import shutil

from pyspark.sql import functions as F

from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import run
from tests.conftest import canon, stop_after_batch


def _dup_source(spark, tmp_path, n_rows=1500, seed=11):
    """Sequence table + a byte-identical second copy of every file: every
    (doc_id, fingerprint) appears exactly twice in the stream."""
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=6, rows_per_sec=2)
    shutil.copytree(src, src + "/dup_copy")
    return src


def _batch_golden(spark, src):
    return (
        read_sequence_table(spark, src)
        .withColumn("fingerprint", F.xxhash64("doc_id", "tokens"))
        .select("doc_id", "fingerprint", "source", "n_tok", "event_ts")
        .dropDuplicates(["doc_id", "fingerprint"])
    )


def test_dedup_stream_matches_batch_distinct(spark, tmp_path):
    src = _dup_source(spark, tmp_path)
    q, sink = run("dedup", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    want = canon(_batch_golden(spark, src))
    assert len(got) > 0
    assert got == want
    # and the duplicates were real: the raw stream carries 2x the rows
    raw = read_sequence_table(spark, src).count()
    assert raw == 2 * len(want)


def test_dedup_job_exactly_once_resume(spark, tmp_path):
    src = _dup_source(spark, tmp_path, seed=13)
    q, sink_full = run(
        "dedup", spark, src, str(tmp_path / "full"), max_files_per_trigger=1
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run("dedup", spark, src, work, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("dedup", spark, src, work, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want


def test_dedup_stream_rocksdb_state_store(spark, tmp_path):
    """Streaming dedup under the RocksDB state-store provider — the
    at-scale backend for dropDuplicatesWithinWatermark's key store (the
    HDFS-backed in-memory provider cannot hold 10^12 dedup keys)."""
    src = _dup_source(spark, tmp_path, seed=17)
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q, sink = run("dedup", spark, src, str(tmp_path / "rocks"))
        q.processAllAvailable()
        q.stop()
        got = canon(sink.read(spark))
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    assert got == canon(_batch_golden(spark, src))
