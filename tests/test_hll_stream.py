"""Streaming HLL cardinality job ("hll"): stream-vs-batch register
differential, estimate-vs-exact error bound, and the kill/resume
exactly-once protocol shared with the other deployables.

The monotone-max argument under test: update-mode emits RUNNING register
maxima, so a replayed batch can only re-emit values ≤ the final max; the
latest-wins keyed sink therefore converges to the exact batch register
table under any batching — verified by mft=4 vs mft=1-killed-and-resumed
vs batch twin.
"""

from pyspark.sql import functions as F

from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import golden, hll_report, run
from tests.conftest import canon, stop_after_batch


def _source(spark, tmp_path, n_rows=2000, seed=23):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=6, rows_per_sec=3)
    return src


def test_hll_stream_registers_match_batch(spark, tmp_path):
    src = _source(spark, tmp_path)
    q, sink = run("hll", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    want = canon(golden("hll", spark, src))
    assert len(got) > 0
    assert got == want


def test_hll_stream_estimate_within_bound(spark, tmp_path):
    """Finalized per-window estimates track the exact per-window distinct
    doc_id counts within the HLL error law (4 sigma of 1.04/sqrt(4096),
    floor of 1 for tiny windows in the linear-counting regime)."""
    src = _source(spark, tmp_path, n_rows=3000, seed=29)
    q, sink = run("hll", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()
    est = {
        r["window_start"]: r["hll_estimate"]
        for r in hll_report(sink.read(spark)).collect()
    }
    exact = {
        r["ws"]: r["d"]
        for r in read_sequence_table(spark, src)
        .groupBy(
            F.window("event_ts", "10 minutes")
            .start.cast("timestamp_ltz")
            .cast("long")
            .alias("ws")
        )
        .agg(F.countDistinct("doc_id").alias("d"))
        .collect()
    }
    assert set(est) == set(exact)
    for ws, d in exact.items():
        assert abs(est[ws] - d) <= max(1.0, 4 * 0.0163 * d), (ws, est[ws], d)


def test_hll_job_exactly_once_resume(spark, tmp_path):
    src = _source(spark, tmp_path, seed=31)
    q, sink_full = run(
        "hll", spark, src, str(tmp_path / "full"), max_files_per_trigger=4
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run("hll", spark, src, work, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("hll", spark, src, work, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want


def test_hll_rollup_matches_direct_coarse_sketch(spark, tmp_path):
    """Rolling 10-minute sink registers up to 1 hour by groupBy-max gives
    EXACTLY the registers a direct 1-hour-window sketch of the stream
    would produce — the mergeability law across window grains, which is
    what makes multi-grain cardinality a sink-table query instead of a
    stream reprocess."""
    from parallel_dataflow_spark.streaming.jobs import hll_rollup

    src = _source(spark, tmp_path, n_rows=2500, seed=53)
    q, sink = run("hll", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()
    rolled = canon(hll_rollup(sink.read(spark), 3600))
    direct = canon(golden("hll", spark, src, window="60 minutes"))
    assert len(rolled) > 0
    assert rolled == direct
    # and the hourly estimates are still within the HLL error law
    est = {r["window_start"]: r["hll_estimate"]
           for r in hll_report(hll_rollup(sink.read(spark), 3600)).collect()}
    exact = {
        r["ws"]: r["d"]
        for r in read_sequence_table(spark, src)
        .groupBy(F.window("event_ts", "60 minutes").start
                 .cast("timestamp_ltz").cast("long").alias("ws"))
        .agg(F.countDistinct("doc_id").alias("d"))
        .collect()
    }
    for ws, d in exact.items():
        assert abs(est[ws] - d) <= max(1.0, 4 * 0.0163 * d)
