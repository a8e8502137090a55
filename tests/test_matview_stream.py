"""Materialized-view job (run_matview_job): one stateful register stage
feeding two exactly-once sinks. The derived estimates sink must converge
to exactly what an on-demand hll_report over the final registers gives
(and therefore to the batch twin), under full-run AND kill/resume.
"""

from parallel_dataflow_spark.sources.sequences import write_sequence_table
from parallel_dataflow_spark.streaming.jobs import golden, hll_report, run_matview_job
from tests.conftest import canon, stop_after_batch


def _source(spark, tmp_path, n_rows=800, seed=101):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=6, rows_per_sec=3)
    return src


def test_matview_estimates_converge_to_batch(spark, tmp_path):
    src = _source(spark, tmp_path)
    q, reg_sink, est_sink = run_matview_job(spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()
    # register sink == batch twin (the hll job's contract, unchanged)
    assert canon(reg_sink.read(spark)) == canon(golden("hll", spark, src))
    # derived view == on-demand report over the final registers
    got = canon(est_sink.read(spark))
    want = canon(hll_report(reg_sink.read(spark)))
    assert len(got) > 0
    assert got == want


def test_matview_exactly_once_resume(spark, tmp_path):
    src = _source(spark, tmp_path, seed=103)
    q, _, est_full = run_matview_job(
        spark, src, str(tmp_path / "full"), max_files_per_trigger=4
    )
    q.processAllAvailable()
    q.stop()
    want = canon(est_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _, _ = run_matview_job(spark, src, work, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream (possibly between the two sink writes)

    q3, _, est3 = run_matview_job(spark, src, work, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(est3.read(spark)) == want


def test_matview_intermediate_epochs_are_true_prefixes(spark, tmp_path):
    """Every estimate epoch the view wrote along the way must equal the
    on-demand report over the registers as of that epoch — i.e. the view
    was CORRECT continuously, not just at the end (time-travel reads are
    the lineage axis that makes this assertable)."""
    src = _source(spark, tmp_path, seed=107)
    work = str(tmp_path / "work")
    q, reg_sink, est_sink = run_matview_job(spark, src, work, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()

    est_epochs = est_sink.epochs()
    assert len(est_epochs) >= 3  # mft=1 over 6 files: several maintenance steps
    for e in est_epochs:
        want = canon(hll_report(reg_sink.read(spark, as_of_epoch=e)))
        got = canon(est_sink.read(spark, as_of_epoch=e))
        assert got == want, f"view diverged at epoch {e}"
