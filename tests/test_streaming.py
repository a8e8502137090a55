"""Streaming semantics tests (FIXTURES.md B1/B4; SURVEY.md §5 plan #4/#5).

- stream vs batch differential: the streamed, checkpointed, upserted result
  must equal the one-shot batch aggregation (token_checksum included — the
  token-array equality invariant);
- exactly-once: kill the query mid-stream, restart from checkpoint, final
  sink == uninterrupted run;
- watermark: late rows beyond the watermark are dropped from append sinks.
"""

import os

import pytest

from parallel_dataflow_spark.sources.sequences import (
    generate_sequences_pandas,
    write_sequence_table,
    read_sequence_table,
    read_sequence_stream,
)
from parallel_dataflow_spark.streaming.jobs import golden, run
from parallel_dataflow_spark.streaming import windows as W
from parallel_dataflow_spark.streaming.metrics import JsonlMetricsListener, read_metrics
from tests.conftest import canon, stop_after_batch


N_ROWS = 3000
N_FILES = 12


@pytest.fixture(scope="module")
def seq_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("seqs"))
    # sparse event clock (2 rows/sec) so the 3k-row fixture spans ~25 min:
    # session gaps occur and windows close within the fixture
    write_sequence_table(spark, d, N_ROWS, seed=42, n_files=N_FILES, rows_per_sec=2)
    return d


def test_generator_deterministic():
    a = generate_sequences_pandas(500, seed=42)
    b = generate_sequences_pandas(500, seed=42)
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert all((x == y).all() for x, y in zip(a["tokens"], b["tokens"]))
    assert (a["n_tok"] == [len(t) for t in a["tokens"]]).all()


def test_tumbling_stream_matches_batch(spark, seq_dir, tmp_path):
    q, sink = run("tumbling", spark, seq_dir, str(tmp_path / "job"))
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    want = canon(golden("tumbling", spark, seq_dir))
    assert len(got) == len(want) > 0
    assert got == want


def test_exactly_once_resume(spark, seq_dir, tmp_path):
    # uninterrupted run = golden
    q, sink_full = run(
        "tumbling", spark, seq_dir, str(tmp_path / "full"), max_files_per_trigger=1
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))

    # interrupted run: stop after >=3 batches, then resume from checkpoint
    work = str(tmp_path / "resumed")
    q2, sink2 = run("tumbling", spark, seq_dir, work, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("tumbling", spark, seq_dir, work, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    got = canon(sink3.read(spark))
    assert got == want


def test_tumbling_rocksdb_state_store(spark, seq_dir, tmp_path):
    """Same job under the RocksDB state-store provider (the at-scale
    backend: HDFS-backed in-memory state cannot hold 10^12 keys; RocksDB
    spills to local disk with changelog checkpointing). Provider is a
    runtime SQL conf — set per-query, restored after."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q, sink = run("tumbling", spark, seq_dir, str(tmp_path / "rocks"))
        q.processAllAvailable()
        q.stop()
        got = canon(sink.read(spark))
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    want = canon(golden("tumbling", spark, seq_dir))
    assert got == want


def test_throughput_stream_matches_batch(spark, seq_dir, tmp_path):
    """The bench flagship (map-side featurize kernel, salted repartition,
    window agg): drained sink == the same plan over the table."""
    q, sink = run("throughput", spark, seq_dir, str(tmp_path / "tput"))
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    want = canon(golden("throughput", spark, seq_dir))
    assert len(got) == len(want) > 0
    assert got == want


def test_session_stream_finalizes(spark, seq_dir, tmp_path):
    q, sink = run("session", spark, seq_dir, str(tmp_path / "sess"))
    q.processAllAvailable()
    q.stop()
    got = sink.read(spark)
    assert got.count() > 0
    # sessions are per doc_id with start <= end
    bad = got.filter("session_start > session_end").count()
    assert bad == 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows arriving with event time far behind the watermark are dropped
    from the windowed aggregation (append finalization)."""
    import pandas as pd
    import numpy as np
    from parallel_dataflow_spark.sources.sequences import SEQUENCE_SCHEMA

    d = str(tmp_path / "late_src")
    os.makedirs(d)

    def mk(rows, name):
        pdf = pd.DataFrame(rows)
        pdf["event_ts"] = pdf["event_ts"].astype("datetime64[us]")
        spark.createDataFrame(pdf, schema=SEQUENCE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, name))

    import time

    base = np.datetime64("2026-01-01T00:00:00")
    mk(
        {
            "doc_id": ["a", "a"],
            "tokens": [[1, 2], [3]],
            "n_tok": [2, 1],
            "source": ["web", "web"],
            "event_ts": [base, base + np.timedelta64(60, "m")],
        },
        "chunk=0000",
    )
    time.sleep(1.1)  # distinct mtimes → deterministic file-stream order
    mk(
        {
            "doc_id": ["a"],
            "tokens": [[7]],
            "n_tok": [1],
            "source": ["web"],
            "event_ts": [base + np.timedelta64(70, "m")],
        },
        "chunk=0001",
    )
    time.sleep(1.1)
    # third file: a row ~an hour behind the watermark. NOTE Spark >=3.4
    # filters late events with the watermark as of the *previous* batch
    # (late-events wm lags the eviction wm by one batch — visible as the
    # two watermark args of StateStoreSave), so the late row must arrive
    # two batches after the wm-advancing row to be observably dropped.
    mk(
        {
            "doc_id": ["a"],
            "tokens": [[9, 9, 9]],
            "n_tok": [3],
            "source": ["web"],
            "event_ts": [base + np.timedelta64(10, "m")],
        },
        "chunk=0002",
    )

    stream = read_sequence_stream(spark, d, max_files_per_trigger=1)
    agg = W.tumbling_doc_stats(stream, window="10 minutes", watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("select * from late_test").collect()
    # batch 1 moves the watermark to 00:55; the late row (00:10, n_tok=3)
    # arrives in batch 2, far behind it → dropped: no [00:10,00:20) window
    # ever appears, and the finalized [00:00,00:10) window has only the
    # first row's 2 tokens.
    first = [r for r in out if r["window_start"].minute == 0 and r["window_start"].hour == 0]
    late_win = [r for r in out if r["window_start"].minute == 10]
    assert len(first) == 1 and first[0]["total_tokens"] == 2
    assert late_win == []


def test_running_stats_stateful_matches_batch(spark, seq_dir, tmp_path):
    """Custom keyed stateful accumulator (applyInPandasWithState): the
    FINAL emission per key must equal the one-shot batch fold."""
    from parallel_dataflow_spark.streaming.stateful import (
        running_doc_stats_batch,
        running_doc_stats_stream,
    )

    stream = read_sequence_stream(spark, seq_dir, max_files_per_trigger=3)
    out = running_doc_stats_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("tws_stats")
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    emitted = spark.sql("select * from tws_stats")
    # final emission per key = the row with the max running n_seqs
    final = {}
    for r in emitted.collect():
        if r["doc_id"] not in final or r["n_seqs"] > final[r["doc_id"]]["n_seqs"]:
            final[r["doc_id"]] = r
    got = sorted(
        (k, v["n_seqs"], v["total_tokens"], v["token_checksum"]) for k, v in final.items()
    )
    want = canon(running_doc_stats_batch(read_sequence_table(spark, seq_dir)))
    assert got == want


def test_metrics_listener(spark, seq_dir, tmp_path):
    path = str(tmp_path / "metrics.jsonl")
    listener = JsonlMetricsListener(path)
    spark.streams.addListener(listener)
    try:
        q, sink = run("tumbling", spark, seq_dir, str(tmp_path / "mjob"))
        q.processAllAvailable()
        q.stop()
    finally:
        spark.streams.removeListener(listener)
    recs = read_metrics(path)
    progress = [r for r in recs if r["kind"] == "progress" and r["numInputRows"] > 0]
    assert progress, "no progress records captured"
    p = progress[0]
    assert p["sources"] and p["sources"][0]["endOffset"] is not None  # lineage
    assert "durationMs" in p and p["processedRowsPerSecond"] >= 0
