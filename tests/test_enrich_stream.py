"""Stream-static enrichment job ("enrich"): broadcast dim join on
the stream — stream==batch differential, kill/resume exactly-once, a
plan gate pinning the BroadcastHashJoin (a shuffled stream-static join
would be the classic self-inflicted bottleneck), and the
unlisted-source tier-0 fallback."""

from pyspark.sql import functions as F

from parallel_dataflow_spark.sources.sequences import write_sequence_table
from parallel_dataflow_spark.streaming.jobs import (
    _enrich_agg,
    calibrate_source_tiers,
    golden,
    run,
)
from tests.conftest import canon, stop_after_batch


def _source(spark, tmp_path, n_rows=800, seed=113):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=6, rows_per_sec=3)
    return src


def test_enrich_stream_matches_batch(spark, tmp_path):
    src = _source(spark, tmp_path)
    tiers = calibrate_source_tiers(spark, src)
    assert len(tiers) > 0 and {t for _, t in tiers} <= {1, 2, 3}
    q, sink = run("enrich", spark, src, str(tmp_path / "work"), tiers=tiers)
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    want = canon(golden("enrich", spark, src, tiers=tiers))
    assert len(got) > 0
    assert got == want


def test_enrich_join_is_broadcast_and_keeps_unlisted_sources(spark, tmp_path):
    src = _source(spark, tmp_path, seed=127)
    from parallel_dataflow_spark.sources.sequences import read_sequence_table

    table = read_sequence_table(spark, src)
    # drop one real source from the dim: its rows must survive as tier 0
    tiers = calibrate_source_tiers(spark, src)
    dropped_source = tiers[0][0]
    partial = [t for t in tiers if t[0] != dropped_source]
    dim = spark.createDataFrame(partial, "source string, tier int")
    out = _enrich_agg(table, dim, "10 minutes", "5 minutes")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = out.collect()
    total_rows = sum(r["n_rows"] for r in rows)
    assert total_rows == table.count()  # nothing dropped
    assert any(r["tier"] == 0 and r["n_rows"] > 0 for r in rows)


def test_enrich_exactly_once_resume(spark, tmp_path):
    src = _source(spark, tmp_path, seed=131)
    tiers = calibrate_source_tiers(spark, src)
    q, sink_full = run(
        "enrich", spark, src, str(tmp_path / "full"), tiers=tiers, max_files_per_trigger=4
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run("enrich", spark, src, work, tiers=tiers, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("enrich", spark, src, work, tiers=tiers, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want
