"""Sliding-window streaming vs batch differential."""

from parallel_dataflow_spark.sources.sequences import (
    read_sequence_stream,
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.windows import sliding_source_stats
from tests.conftest import canon, stop_after_batch


def test_sliding_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 2000, seed=5, n_files=8, rows_per_sec=2)

    stream = read_sequence_stream(spark, src, max_files_per_trigger=2)
    agg = sliding_source_stats(stream)
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("slide_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # update-mode memory sink keeps every update; resolve latest per key
    got_df = spark.sql(
        """
        SELECT source, window_start, n_seqs, total_tokens, token_checksum,
               min_tok, max_tok
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY source, window_start ORDER BY n_seqs DESC) rn
          FROM slide_out
        ) WHERE rn = 1
        """
    )
    want = sliding_source_stats(read_sequence_table(spark, src))
    assert canon(got_df) == canon(want)
    # sliding 10m/5m: every row lands in exactly 2 windows
    total_rows = read_sequence_table(spark, src).count()
    windowed_rows = want.groupBy().sum("n_seqs").collect()[0][0]
    assert windowed_rows == 2 * total_rows


def test_sliding_job_exactly_once_resume(spark, tmp_path):
    """The sliding deployable: uninterrupted == kill+resume
    (same protocol as the tumbling job's exactly-once test)."""
    from parallel_dataflow_spark.streaming.jobs import run

    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 2000, seed=7, n_files=8, rows_per_sec=2)

    q, sink_full = run(
        "sliding", spark, src, str(tmp_path / "full"), max_files_per_trigger=1
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0
    # the sink state equals the batch golden
    golden = sliding_source_stats(read_sequence_table(spark, src))
    assert want == canon(golden)

    work = str(tmp_path / "resumed")
    q2, _ = run("sliding", spark, src, work, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("sliding", spark, src, work, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want
