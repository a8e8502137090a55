"""Streaming drift monitor ("drift"): stream-vs-batch differential
on the published histogram table, exactly-once kill/resume, and a numpy
third opinion on drift_report's JS values."""

import numpy as np

from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import drift_report, golden, run
from tests.conftest import canon, stop_after_batch


def test_drift_stream_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 2000, seed=11, n_files=8, rows_per_sec=2)

    # uninterrupted run
    q, sink = run("drift", spark, src, str(tmp_path / "full"))
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))

    want = canon(golden("drift", spark, src))
    assert got == want
    assert got, "histogram table must be non-empty"

    # kill mid-stream, resume from checkpoint — exactly-once
    work = str(tmp_path / "resume")
    q2, _ = run("drift", spark, src, work, max_files_per_trigger=2)
    stop_after_batch(q2, 2)

    q3, sink3 = run("drift", spark, src, work, max_files_per_trigger=2)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want


def test_drift_report_matches_numpy(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 1500, seed=12, n_files=4, rows_per_sec=2)

    hist = golden("drift", spark, src, n_buckets=32)
    got = {
        (r["source"], r["window_start"]): (r["n_tokens"], r["js_div"])
        for r in drift_report(hist).collect()
    }

    # numpy third opinion computed from the SAME histogram rows
    rows = hist.collect()
    counts: dict = {}
    for r in rows:
        counts.setdefault((r["source"], r["window_start"]), np.zeros(32))[
            r["pos"]
        ] += r["cnt"]
    windows = {w for _, w in counts}
    for w in windows:
        srcs = [s for (s, ww) in counts if ww == w]
        glob = np.sum([counts[(s, w)] for s in srcs], axis=0)
        qd = glob / glob.sum()
        for s in srcs:
            pd_ = counts[(s, w)] / counts[(s, w)].sum()
            m = (pd_ + qd) / 2
            with np.errstate(divide="ignore", invalid="ignore"):
                pterm = np.where(pd_ > 0, 0.5 * pd_ * np.log2(pd_ / m), 0.0)
                qterm = np.where(qd > 0, 0.5 * qd * np.log2(qd / m), 0.0)
            js = round(float(pterm.sum() + qterm.sum()), 6)
            n_tok, got_js = got[(s, w)]
            assert n_tok == int(counts[(s, w)].sum())
            assert abs(got_js - js) <= 1e-6, (s, w, got_js, js)
    # every published (source, window) was checked
    assert len(got) == len(counts)

    # sequences from the skewed generator must show non-zero divergence
    assert any(v[1] > 0 for v in got.values())
