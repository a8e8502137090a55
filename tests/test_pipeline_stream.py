"""The pipeline deployable: the composed ingestion pipeline (gate → streaming
dedup → windowed admission stats → exactly-once sink) vs its batch twin.

Append mode (two chained stateful operators) only emits a window once
the watermark passes its end, so after processing the real data the test
writes a far-future SENTINEL row to advance the watermark and flush
every pending window — mirroring how a production run's window tail
drains as the stream keeps flowing. The sentinel must PASS the quality
gate (Catalyst pushes the gate below the EventTimeWatermark node, so a
gated-out row would never advance event time — see the pipeline plan's
docstring); it carries source="__sentinel__", its own window never
closes (watermark = its ts - delay), and the batch golden excludes that
source."""

import datetime
import shutil

from parallel_dataflow_spark.sources.sequences import (
    SEQUENCE_SCHEMA,
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import batch_pipeline_golden, run
from tests.conftest import canon, stop_after_batch


def _dup_source(spark, tmp_path, n_rows=1500, seed=31):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=6, rows_per_sec=2)
    shutil.copytree(src, src + "/dup_copy")
    return src


def _flush_sentinel(spark, src):
    """A single far-future row that PASSES the quality gate (so it flows
    through the pushed-down scan filter and advances the watermark); its
    own window never closes, and the golden excludes its source."""
    far = datetime.datetime(2026, 6, 1, 0, 0, 0)
    row = [("__sentinel__", list(range(100)), 100, "__sentinel__", far)]
    spark.createDataFrame(row, SEQUENCE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src + "/sentinel")


def test_pipeline_stream_matches_batch(spark, tmp_path):
    src = _dup_source(spark, tmp_path)
    q, sink = run("pipeline", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    _flush_sentinel(spark, src)
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    want = canon(
        batch_pipeline_golden(spark, src).filter("source <> '__sentinel__'")
    )
    assert len(got) > 0
    assert got == want
    # the gate and dedup really did drop rows: admitted < raw rows
    raw = read_sequence_table(spark, src).count()
    admitted = sum(r[2] for r in got)
    assert admitted < raw


def test_pipeline_job_exactly_once_resume(spark, tmp_path):
    src = _dup_source(spark, tmp_path, seed=37)
    q, sink_full = run(
        "pipeline", spark, src, str(tmp_path / "full"), max_files_per_trigger=1
    )
    q.processAllAvailable()
    _flush_sentinel(spark, src)
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run("pipeline", spark, src, work, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("pipeline", spark, src, work, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want
