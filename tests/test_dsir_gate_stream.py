"""The dsirgate deployable (15th): streaming DSIR admission gate.
The calibrated micro-nat model is an array literal in the plan, so
admission is scan-side and exactly integer — stream must equal the batch
twin row for row, and survive kill/resume with different batching."""

from parallel_dataflow_spark.sources.sequences import write_sequence_table
from parallel_dataflow_spark.streaming.jobs import calibrate_dsir_lr, golden, run
from tests.conftest import stop_after_batch


def canon(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "source", "window_start", "docs_admitted", "docs_rejected",
            "tokens_admitted",
        ).collect()
    )


def test_dsir_gate_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 1500, seed=23, n_files=6, rows_per_sec=2)
    lr = calibrate_dsir_lr(spark, src, target_source="wiki", buckets=1024)
    assert len(lr) == 1024 and any(v != 0 for v in lr)

    q, sink = run("dsirgate", spark, src, str(tmp_path / "full"), lr_micro=lr)
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))

    want = canon(golden("dsirgate", spark, src, lr_micro=lr))
    assert got == want
    adm = sum(r[2] for r in want)
    rej = sum(r[3] for r in want)
    assert adm > 0 and rej > 0, "the gate must actually split the stream"

    # kill mid-stream, resume with the same calibrated model — admission
    # is a deterministic scan-side expression, so the update-mode window
    # agg plus the latest-wins keyed sink replay to the identical table
    work = str(tmp_path / "resume")
    q2, _ = run("dsirgate", spark, src, work, lr_micro=lr, max_files_per_trigger=1)
    stop_after_batch(q2, 2)

    q3, sink3 = run("dsirgate", spark, src, work, lr_micro=lr, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want
