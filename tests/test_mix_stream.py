"""Streaming mixture resampler ("mix"): stream-vs-batch
differential on the kept-volume table, exactly-once kill/resume, and a
pure-Python third opinion on the calibration math."""

from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import calibrate_mix_rates, golden, run
from tests.conftest import canon, stop_after_batch


def test_mix_stream_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 2000, seed=21, n_files=8, rows_per_sec=2)

    rates = calibrate_mix_rates(spark, src)

    q, sink = run("mix", spark, src, str(tmp_path / "full"), rates=rates)
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))

    want = canon(golden("mix", spark, src, rates=rates))
    assert got == want
    assert got, "kept-volume table must be non-empty"
    # the filter actually thins: kept docs < input docs
    n_in = read_sequence_table(spark, src).count()
    assert sum(r[2] for r in got) < n_in

    # kill mid-stream, resume from checkpoint — exactly-once
    work = str(tmp_path / "resume")
    q2, _ = run("mix", spark, src, work, rates=rates, max_files_per_trigger=2)
    stop_after_batch(q2, 2)

    q3, sink3 = run("mix", spark, src, work, rates=rates, max_files_per_trigger=2)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want


def test_calibrate_rates_python_third_opinion(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 1200, seed=22, n_files=4, rows_per_sec=2)

    got = dict(calibrate_mix_rates(spark, src))

    rows = read_sequence_table(spark, src).select("source", "n_tok").collect()
    totals: dict[str, int] = {}
    for r in rows:
        totals[r["source"]] = totals.get(r["source"], 0) + r["n_tok"]
    k = len(totals)
    cap = min(t * k for t in totals.values())
    want = {
        s: int(min(1.0, round((1.0 / k) * cap / t, 9)) * 1_000_000)
        for s, t in totals.items()
    }
    assert got == want
    assert max(got.values()) == 1_000_000      # binding source keeps all
    assert min(got.values()) > 0
