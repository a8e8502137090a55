"""The hhtrack deployable (20th): calibrated heavy-hitter tracking over a
PLANTED-skew sequence table (the fixture generator's tokens are uniform —
no bigram is heavy there — so the tests construct a corpus where '7_8' is
in every doc and '5_6'/'8_5' in every third): stream-vs-batch count
differential, kill/resume exactly-once, tracked-key exactness vs a direct
groupBy truth, and share reporting from the sink.
"""

import datetime as dt

from pyspark.sql import functions as F

from parallel_dataflow_spark.sources.sequences import read_sequence_table
from parallel_dataflow_spark.streaming.jobs import (
    calibrate_hh_candidates,
    golden,
    hh_report,
    run,
    _token_bigrams,
)
from tests.conftest import canon, stop_after_batch

THETA = 0.005
BASE = dt.datetime(2026, 1, 1, 0, 0, 0)


def _source(spark, tmp_path, n_rows=600):
    """Deterministic skewed corpus: every doc opens with the heavy bigram
    (7, 8); every third doc continues (5, 6) (so '8_5' and '5_6' are
    medium-heavy); the 20-token arithmetic tail makes essentially unique
    bigrams. 3 seconds per doc → three 10-minute windows."""
    rows = []
    for i in range(n_rows):
        toks = [7, 8] + ([5, 6] if i % 3 == 0 else [])
        toks += [1000 + (31 * i + 17 * j) % 40000 for j in range(20)]
        rows.append(
            (
                f"doc-{i:06d}",
                toks,
                len(toks),
                f"src{i % 4}",
                BASE + dt.timedelta(seconds=3 * i),
            )
        )
    # Write 6 contiguous-time chunks SEQUENTIALLY (the write_sequence_table
    # convention): a file stream replays them in event-time order, so the
    # watermark never drops the early windows. A parallel Spark write
    # scrambles file mtimes and the stream can advance the watermark past
    # the first window before reading it.
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    chunk = (len(rows) + 5) // 6
    for ci in range(6):
        part = rows[ci * chunk : (ci + 1) * chunk]
        if not part:
            continue
        table = pa.table(
            {
                "doc_id": pa.array([r[0] for r in part]),
                "tokens": pa.array([r[1] for r in part], type=pa.list_(pa.int32())),
                "n_tok": pa.array([r[2] for r in part], type=pa.int32()),
                "source": pa.array([r[3] for r in part]),
                "event_ts": pa.array(
                    [r[4] for r in part], type=pa.timestamp("us", tz="UTC")
                ),
            }
        )
        cdir = os.path.join(src, f"chunk={ci:04d}")
        os.makedirs(cdir, exist_ok=True)
        pq.write_table(table, os.path.join(cdir, "part-0.parquet"))
    return src


def test_hh_candidates_bounded_and_planted_found(spark, tmp_path):
    src = _source(spark, tmp_path)
    cands = calibrate_hh_candidates(spark, src, theta=THETA)
    assert "7_8" in cands
    assert "5_6" in cands
    assert 0 < len(cands) <= 1 / THETA


def test_hh_stream_matches_batch(spark, tmp_path):
    src = _source(spark, tmp_path)
    q, sink = run("hhtrack", spark, src, str(tmp_path / "work"), theta=THETA)
    q.processAllAvailable()
    q.stop()
    cands = calibrate_hh_candidates(spark, src, theta=THETA)
    got = canon(sink.read(spark).select("window_start", "key", "cnt"))
    want = canon(golden("hhtrack", spark, src, candidates=cands))
    assert len(got) > 0
    assert got == want


def test_hh_tracked_counts_and_shares_exact(spark, tmp_path):
    """Sink counts for every tracked key equal a direct exact groupBy of
    the raw bigram stream, and hh_report shares equal cnt/total."""
    src = _source(spark, tmp_path)
    q, sink = run("hhtrack", spark, src, str(tmp_path / "work"), theta=THETA)
    q.processAllAvailable()
    q.stop()
    rows = sink.read(spark)

    bg = read_sequence_table(spark, src).select(
        (
            F.floor(F.col("event_ts").cast("timestamp_ltz").cast("long") / 600)
            * 600
        ).alias("ws"),
        F.explode(_token_bigrams()).alias("key"),
    )
    exact = {
        (r["ws"], r["key"]): r["c"]
        for r in bg.groupBy("ws", "key").agg(F.count("*").alias("c")).collect()
    }
    totals = {
        r["ws"]: r["n"]
        for r in bg.groupBy("ws").agg(F.count("*").alias("n")).collect()
    }

    tracked = [r for r in rows.collect() if r["key"] != "*"]
    assert len(tracked) > 0
    for r in tracked:
        assert r["cnt"] == exact[(r["window_start"], r["key"])]
    for r in rows.filter(F.col("key") == "*").collect():
        assert r["cnt"] == totals[r["window_start"]]

    rep = hh_report(rows).collect()
    assert any(r["key"] == "7_8" for r in rep)
    for r in rep:
        assert r["share"] == round(r["cnt"] / totals[r["window_start"]], 6)


def test_hh_job_exactly_once_resume(spark, tmp_path):
    src = _source(spark, tmp_path)
    cands = calibrate_hh_candidates(spark, src, theta=THETA)
    q, sink_full = run(
        "hhtrack", spark, src, str(tmp_path / "full"), candidates=cands,
        max_files_per_trigger=4,
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run(
        "hhtrack", spark, src, work, candidates=cands, max_files_per_trigger=1
    )
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run(
        "hhtrack", spark, src, work, candidates=cands, max_files_per_trigger=1
    )
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want
