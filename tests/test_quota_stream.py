"""The quota deployable (13th): stream-vs-batch differential on the
per-(source, window) admission table, exactly-once kill/resume.

Quota admission is buffered-release (rows fold in strict global
(event_ts, ck) order once the watermark passes them), so after the real
data a far-future SENTINEL row advances the watermark and drains every
buffer — the batch golden excludes the sentinel's source, whose own
window never closes."""

import datetime

from parallel_dataflow_spark.sources.sequences import (
    SEQUENCE_SCHEMA,
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import run
from parallel_dataflow_spark.streaming.stateful import token_quota_batch
from tests.conftest import stop_after_batch


def canon(df):
    return sorted(tuple(r) for r in df.select(
        "source", "window_start", "admitted_tok", "rejected_tok",
        "admitted_rows", "rejected_rows",
    ).filter("source <> '__sentinel__'").collect())


def _flush_sentinel(spark, src):
    far = datetime.datetime(2026, 6, 1, 0, 0, 0)
    row = [("__sentinel__", list(range(10)), 10, "__sentinel__", far)]
    spark.createDataFrame(row, SEQUENCE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src + "/sentinel")


def test_quota_job_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 2000, seed=31, n_files=8, rows_per_sec=2)

    q, sink = run("quota", spark, src, str(tmp_path / "full"))
    q.processAllAvailable()
    _flush_sentinel(spark, src)
    q.processAllAvailable()
    q.stop()
    # drained sources keep no state: only the sentinel's source (one key,
    # its row still buffered behind the watermark) may hold a state row
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] <= 1
    got = canon(sink.read(spark))

    want = canon(token_quota_batch(read_sequence_table(spark, src), 2_000, 600))
    assert got == want
    assert any(r[3] > 0 for r in want), "the cap must actually bind"

    # kill mid-stream, resume from checkpoint, DIFFERENT batching than the
    # full run — buffered release makes the admission order (and thus the
    # final table) batching-invariant, and the latest-wins keyed sink plus
    # running emissions make the replay idempotent
    work = str(tmp_path / "resume")
    q2, _ = run("quota", spark, src, work, max_files_per_trigger=2)
    stop_after_batch(q2, 2)

    q3, sink3 = run("quota", spark, src, work, max_files_per_trigger=2)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want


def test_quota_apws_stream_matches_batch_twin(spark, tmp_path):
    """The applyInPandasWithState quota kernel over a real file stream ==
    the one-cumsum batch twin, per (source, window)."""
    from parallel_dataflow_spark.sources.sequences import (
        read_sequence_stream,
        read_sequence_table,
        write_sequence_table,
    )
    from parallel_dataflow_spark.streaming.stateful import (
        token_quota_batch,
        token_quota_stream,
    )

    src = str(tmp_path / "quota_src")
    write_sequence_table(spark, src, 2000, seed=9, n_files=8, rows_per_sec=2)
    out = token_quota_stream(
        read_sequence_stream(spark, src, 2),
        budget=2_000,
        window_sec=600,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("quota_apws_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    _flush_sentinel(spark, src)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["source"], int(r["window_start"])): (int(r["s_adm"]), int(r["s_rej"]))
        for r in spark.sql(
            "select source, window_start, max(admitted_tok) s_adm, "
            "max(rejected_tok) s_rej from quota_apws_out "
            "where source <> '__sentinel__' group by 1, 2"
        ).collect()
    }
    want = {
        (r["source"], int(r["window_start"])): (
            int(r["admitted_tok"]),
            int(r["rejected_tok"]),
        )
        for r in token_quota_batch(
            read_sequence_table(spark, src), 2_000, 600
        ).filter("source <> '__sentinel__'").collect()
    }
    assert got == want
    assert any(v[1] > 0 for v in want.values())  # the cap actually bound
