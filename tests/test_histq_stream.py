"""Streaming histogram-quantile job ("histq"): stream-vs-batch
cell-table differential, quantile-estimate accuracy vs the exact
per-window order statistic (lower-edge one-sided bound), kill/resume
exactly-once, and the additive rollup law.

The grid is calibrated offline (exact n_tok min/max) and baked into the
streaming plan as literals — the calibrate-offline / enforce-online
split; per-window cell counts are then exact associative sums, so the
latest-wins keyed sink converges to the batch twin under any batching.
"""

import math

from pyspark.sql import functions as F

from parallel_dataflow_spark.operators.sketches import HIST_BUCKETS
from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import (
    calibrate_hist_grid,
    golden,
    histq_report,
    histq_rollup,
    run,
)
from tests.conftest import canon, stop_after_batch


def _source(spark, tmp_path, n_rows=800, seed=61):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=6, rows_per_sec=3)
    return src


def test_histq_stream_cells_match_batch(spark, tmp_path):
    src = _source(spark, tmp_path)
    grid = calibrate_hist_grid(spark, src)
    q, sink = run("histq", spark, src, str(tmp_path / "work"), grid=grid)
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    want = canon(golden("histq", spark, src, grid=grid))
    assert len(got) > 0
    assert got == want


def test_histq_report_brackets_exact_order_statistic(spark, tmp_path):
    """For every window and q in {50, 90, 99}: est <= exact order
    statistic <= est + grid_width (the lower-edge estimator's one-sided
    bound — the true x_(ceil(q*n)) lies inside the selected bucket; the
    upper edge is attainable because vmax itself clamps into the last
    bucket, whose upper edge is closed)."""
    src = _source(spark, tmp_path, seed=67)
    grid = calibrate_hist_grid(spark, src)
    q, sink = run("histq", spark, src, str(tmp_path / "work"), grid=grid)
    q.processAllAvailable()
    q.stop()

    vmin, vmax = grid
    gw = (vmax - vmin) / HIST_BUCKETS
    by_w = {}
    rows = (
        read_sequence_table(spark, src)
        .select(
            F.window("event_ts", "10 minutes")
            .start.cast("timestamp_ltz")
            .cast("long")
            .alias("ws"),
            "n_tok",
        )
        .collect()
    )
    for r in rows:
        by_w.setdefault(r["ws"], []).append(r["n_tok"])

    report = histq_report(sink.read(spark), grid).collect()
    assert len(report) == len(by_w)
    for rep in report:
        vals = sorted(by_w[rep["window_start"]])
        assert rep["n_rows"] == len(vals)
        for pq, qf in ((rep["p50_est"], 0.5), (rep["p90_est"], 0.9), (rep["p99_est"], 0.99)):
            exact = vals[int(math.ceil(qf * len(vals))) - 1]
            assert pq <= exact + 1e-5, (rep["window_start"], qf, pq, exact)
            assert exact <= pq + gw + 1e-5, (rep["window_start"], qf, pq, exact)


def test_histq_job_exactly_once_resume(spark, tmp_path):
    src = _source(spark, tmp_path, seed=71)
    grid = calibrate_hist_grid(spark, src)
    q, sink_full = run(
        "histq", spark, src, str(tmp_path / "full"), grid=grid, max_files_per_trigger=4
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run("histq", spark, src, work, grid=grid, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("histq", spark, src, work, grid=grid, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want


def test_histq_rollup_matches_direct_coarse_histogram(spark, tmp_path):
    """Summing 10-minute sink cells up to 1 hour gives EXACTLY the cell
    table a direct 1-hour-window job would produce — the grid is
    window-independent, so histogram cells are additive across grains."""
    src = _source(spark, tmp_path, n_rows=1200, seed=73)
    grid = calibrate_hist_grid(spark, src)
    q, sink = run("histq", spark, src, str(tmp_path / "work"), grid=grid)
    q.processAllAvailable()
    q.stop()
    rolled = canon(histq_rollup(sink.read(spark), 3600))
    direct = canon(golden("histq", spark, src, grid=grid, window="60 minutes"))
    assert len(rolled) > 0
    assert rolled == direct
