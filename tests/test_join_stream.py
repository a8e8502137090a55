"""The join deployable: stream-stream join vs batch twin (watermark
widened past the data span so no join state evicts during the run —
eviction-under-watermark semantics are exercised separately in
test_cep.test_stream_stream_join at the default), plus the
kill/resume exactly-once protocol. The self-join shape over one source
directory guarantees every row matches at least itself (left_ts ==
right_ts, tokens_match true), and near-in-time rows of the same doc_id
produce genuine cross matches."""

from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import run
from parallel_dataflow_spark.streaming.windows import stream_stream_token_join
from tests.conftest import canon, stop_after_batch


def test_join_job_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 1500, seed=21, n_files=6, rows_per_sec=2)
    q, sink = run("join", spark, src, str(tmp_path / "work"), watermark="2 hours")
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    batch = read_sequence_table(spark, src)
    want = canon(stream_stream_token_join(batch, batch, include_checksums=True))
    assert len(got) >= 1500  # at least the self-matches
    assert got == want
    # genuine cross-matches exist (hot doc_ids emit near-in-time rows)
    assert len(got) > batch.count()


def test_join_job_exactly_once_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 1500, seed=23, n_files=6, rows_per_sec=2)
    q, sink_full = run(
        "join", spark, src, str(tmp_path / "full"), watermark="2 hours", max_files_per_trigger=1
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run("join", spark, src, work, watermark="2 hours", max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("join", spark, src, work, watermark="2 hours", max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want
