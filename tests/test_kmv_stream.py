"""The kmv deployable (19th): stream-vs-batch sketch differential,
kill/resume exactly-once, per-window Jaccard report vs exact truth.

The order-invariance argument under test: bottom-K of a set is the same
under ANY micro-batch split, so running emissions through the latest-wins
keyed sink converge to the exact batch twin — the additive-running-totals
argument (CMS) applied to an order-statistics sketch.
"""

from pyspark.sql import functions as F

from parallel_dataflow_spark.operators.sketches import KMV_K
from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import run
from parallel_dataflow_spark.streaming.kmvstream import (
    kmv_window_batch,
    kmv_window_report,
)
from tests.conftest import stop_after_batch


def canon(df):
    return sorted(
        (r["source"], r["window_start"], tuple(r["hs"]), r["sketch_size"])
        for r in df.collect()
    )


def _source(spark, tmp_path, n_rows=600, seed=61):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=6, rows_per_sec=3)
    return src


def test_kmv_stream_matches_batch(spark, tmp_path):
    src = _source(spark, tmp_path)
    q, sink = run("kmv", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    want = canon(kmv_window_batch(read_sequence_table(spark, src)))
    assert len(got) > 0
    assert got == want
    assert all(len(hs) <= KMV_K for _, _, hs, _ in got)


def test_kmv_job_exactly_once_resume(spark, tmp_path):
    src = _source(spark, tmp_path, seed=67)
    q, sink_full = run(
        "kmv", spark, src, str(tmp_path / "full"), max_files_per_trigger=4
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run("kmv", spark, src, work, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("kmv", spark, src, work, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want


def test_kmv_window_report_estimates_true_jaccard(spark, tmp_path):
    """Per-window pairwise source vocab Jaccard from the sink alone,
    within the unioned-sketch bound 4*sqrt(J(1-J)/K) (+1/K for the
    rounding floor when J is tiny) of the exact per-window truth."""
    src = _source(spark, tmp_path, n_rows=1200, seed=71)
    q, sink = run("kmv", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()

    est = {
        (r["window_start"], r["s1"], r["s2"]): r["jaccard_est"]
        for r in kmv_window_report(sink.read(spark)).collect()
    }
    assert len(est) > 0

    toks = read_sequence_table(spark, src).select(
        "source",
        (
            F.floor(F.col("event_ts").cast("timestamp_ltz").cast("long") / 600)
            * 600
        ).alias("ws"),
        F.explode("tokens").alias("t"),
    ).dropDuplicates(["source", "ws", "t"])
    a, b = toks.alias("a"), toks.alias("b")
    truth = {
        (r["ws"], r["s1"], r["s2"]): (r["inter"], r["na"], r["nb"])
        for r in a.join(
            b,
            (F.col("a.ws") == F.col("b.ws"))
            & (F.col("a.t") == F.col("b.t"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.ws").alias("ws"),
            F.col("a.source").alias("s1"),
            F.col("b.source").alias("s2"),
        )
        .agg(F.count("*").alias("inter"))
        .join(
            toks.groupBy("ws", F.col("source").alias("s1")).agg(
                F.count("*").alias("na")
            ),
            ["ws", "s1"],
        )
        .join(
            toks.groupBy("ws", F.col("source").alias("s2")).agg(
                F.count("*").alias("nb")
            ),
            ["ws", "s2"],
        )
        .collect()
    }
    checked = 0
    for (ws, s1, s2), j_est in est.items():
        if (ws, s1, s2) not in truth:
            continue
        inter, na, nb = truth[(ws, s1, s2)]
        j = inter / (na + nb - inter)
        sigma = max((j * (1 - j) / KMV_K) ** 0.5, 1.0 / KMV_K)
        assert abs(j_est - j) <= 4 * sigma, (ws, s1, s2, j_est, j)
        checked += 1
    assert checked > 0


def test_kmv_batch_twin_partitioning_invariant(spark, tmp_path):
    src = _source(spark, tmp_path, n_rows=400, seed=79)
    df = read_sequence_table(spark, src)
    assert canon(kmv_window_batch(df.repartition(16))) == canon(
        kmv_window_batch(df.coalesce(1))
    )


def test_kmv_rollup_matches_direct_coarse_sketch(spark, tmp_path):
    """Union + re-rank of 10-minute sink sketches to 1 hour == a direct
    1-hour bottom-K of the stream, byte for byte — the order-statistics
    rollup law beside CMS-sum and HLL-max."""
    from parallel_dataflow_spark.streaming.kmvstream import kmv_rollup

    src = _source(spark, tmp_path, n_rows=1200, seed=101)
    q, sink = run("kmv", spark, src, str(tmp_path / "work"))
    q.processAllAvailable()
    q.stop()
    rolled = canon(kmv_rollup(sink.read(spark), 3600))
    direct = canon(
        kmv_window_batch(read_sequence_table(spark, src), 3600)
    )
    assert len(rolled) > 0
    assert rolled == direct
