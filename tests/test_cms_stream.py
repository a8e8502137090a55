"""Streaming Count-Min job ("cms"): stream-vs-batch cell-table
differential, probe estimates vs exact token counts (one-sided CMS
guarantee), and the kill/resume exactly-once protocol.

The additive-running-totals argument under test: cell counts are
associative BIGINT sums, so update-mode running emissions through the
latest-wins keyed sink converge to the exact batch cell table under any
batching — verified by mft=4 vs mft=1-killed-and-resumed vs batch twin.
"""

from pyspark.sql import functions as F

from parallel_dataflow_spark.operators.sketches import CMS_WIDTH
from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import cms_report, golden, run
from tests.conftest import canon, stop_after_batch


def _source(spark, tmp_path, n_rows=800, seed=37):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=6, rows_per_sec=3)
    return src


def test_cms_stream_cells_match_batch(spark, tmp_path):
    src = _source(spark, tmp_path)
    q, sink = run("cms", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    want = canon(golden("cms", spark, src))
    assert len(got) > 0
    assert got == want


def test_cms_probe_estimates_one_sided(spark, tmp_path):
    """For every probed token and window: exact <= estimate <= exact +
    eps*N (eps = e/width), including a never-seen probe."""
    src = _source(spark, tmp_path, seed=41)
    q, sink = run("cms", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()

    tok = read_sequence_table(spark, src).select(
        F.window("event_ts", "10 minutes")
        .start.cast("timestamp_ltz")
        .cast("long")
        .alias("ws"),
        F.explode("tokens").alias("token"),
    )
    n_by_w = {r["ws"]: r["n"] for r in tok.groupBy("ws").agg(F.count("*").alias("n")).collect()}
    top = (
        tok.groupBy("token")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"))
        .limit(3)
        .collect()
    )
    probes = [int(r["token"]) for r in top] + [987654321]
    exact = {
        (r["ws"], r["token"]): r["c"]
        for r in tok.filter(F.col("token").isin(probes))
        .groupBy("ws", "token")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    est = {
        (r["window_start"], r["token"]): r["cms_estimate"]
        for r in cms_report(sink.read(spark), probes).collect()
    }
    assert len(est) > 0
    for (ws, t), e in est.items():
        x = exact.get((ws, t), 0)
        assert x <= e <= x + (2.718281828 / CMS_WIDTH) * n_by_w[ws], (ws, t, e, x)


def test_cms_job_exactly_once_resume(spark, tmp_path):
    src = _source(spark, tmp_path, seed=43)
    q, sink_full = run(
        "cms", spark, src, str(tmp_path / "full"), max_files_per_trigger=4
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run("cms", spark, src, work, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("cms", spark, src, work, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want


def test_cms_stream_rocksdb_state_store(spark, tmp_path):
    """Streaming CMS under the RocksDB state-store provider — the
    at-scale backend for the per-(window, cell) agg state (same contract
    as the dedup-job RocksDB test: identical output, different store)."""
    src = _source(spark, tmp_path, seed=47)
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q, sink = run("cms", spark, src, str(tmp_path / "rocks"))
        q.processAllAvailable()
        q.stop()
        got = canon(sink.read(spark))
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)
    assert got == canon(golden("cms", spark, src))


def test_cms_rollup_matches_direct_coarse_sketch(spark, tmp_path):
    """Rolling 10-minute sink cells up to 1 hour by groupBy-SUM gives
    EXACTLY the cell table a direct 1-hour-window sketch of the stream
    would produce — CMS linearity across window grains (the additive
    twin of the HLL max-merge rollup law)."""
    from parallel_dataflow_spark.streaming.jobs import cms_rollup

    src = _source(spark, tmp_path, n_rows=1200, seed=59)
    q, sink = run("cms", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()
    rolled = canon(cms_rollup(sink.read(spark), 3600))
    direct = canon(golden("cms", spark, src, window="60 minutes"))
    assert len(rolled) > 0
    assert rolled == direct
