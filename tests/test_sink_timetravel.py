"""Time-travel reads on the idempotent keyed sink: epoch dirs are the
per-micro-batch lineage, so ``read(as_of_epoch=e)`` must reproduce the
exact resolved table a reader saw after batch e committed — monotone key
coverage along the lineage, final as-of == plain read, and replayed
epochs invisible to as-of readers."""

from parallel_dataflow_spark.sources.sequences import write_sequence_table
from parallel_dataflow_spark.streaming.jobs import run
from tests.conftest import canon


def test_as_of_reads_are_monotone_prefixes(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 600, seed=111, n_files=6, rows_per_sec=3)
    q, sink = run("tumbling", spark, src, str(tmp_path / "work"), max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()

    epochs = sink.epochs()
    assert len(epochs) >= 3
    seen_keys: set = set()
    prev_rows = -1
    for e in epochs:
        snap = sink.read(spark, as_of_epoch=e)
        keys = {
            tuple(r[k] for k in sink.key_cols) for r in snap.collect()
        }
        # keys only ever accumulate (update-mode agg upserts, never deletes)
        assert seen_keys <= keys, f"keys vanished at epoch {e}"
        seen_keys = keys
        n = snap.count()
        assert n >= prev_rows
        prev_rows = n
    assert canon(sink.read(spark, as_of_epoch=epochs[-1])) == canon(sink.read(spark))
