"""Left-outer stream-stream join ("outerjoin"): the watermark-
expiry emission path. Unmatched raw-feed rows must emit null-padded
(-1 sentinels) once the watermark proves no re-tokenized twin can still
arrive — verified row-for-row against the identical batch plan, plus
kill/resume exactly-once and a direct check that the planted ~10%
unmatched population is exactly the hash-selected one.
"""

import time

from pyspark.sql import functions as F

from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import golden, run
from tests.conftest import canon, stop_after_batch


def _flush_doc_id(spark) -> str:
    """A doc_id that passes the right-feed hash filter, so a flush row
    advances BOTH sides' watermarks."""
    for i in range(50):
        cand = f"flush_{i}"
        ok = spark.sql(
            f"SELECT pmod(xxhash64('{cand}'), 10) != 0 AS ok"
        ).collect()[0]["ok"]
        if ok:
            return cand
    raise AssertionError("no flush doc_id found")


def _source_with_flush(spark, tmp_path, n_rows=600, seed=83):
    """Sequence table plus one far-future flush row: a finite test stream
    needs it to push the watermark past the last real event so expired
    left state emits its null rows (an unbounded production stream
    advances the watermark for free)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=6, rows_per_sec=3)
    max_ts = read_sequence_table(spark, src).agg(F.max("event_ts")).collect()[0][0]
    flush_ts = (
        pa.array([max_ts], type=pa.timestamp("us"))
        .cast(pa.int64())
        .to_pylist()[0]
        + 2 * 3600 * 1_000_000
    )
    table = pa.table(
        {
            "doc_id": pa.array([_flush_doc_id(spark)]),
            "tokens": pa.LargeListArray.from_arrays(
                pa.array([0, 1]), pa.array([7], type=pa.int32())
            ).cast(pa.list_(pa.int32())),
            "n_tok": pa.array([1], type=pa.int32()),
            "source": pa.array(["flush"]),
            "event_ts": pa.array([flush_ts], type=pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
        }
    )
    fdir = tmp_path / "src" / "chunk=9999"
    fdir.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(fdir / "part-0.parquet"))
    return src


def _drain(spark, q, sink, settle_s=30):
    """processAllAvailable, then wait for the no-data batches that emit
    expired outer-join state (they run after the data is exhausted)."""
    q.processAllAvailable()
    stable_since, last = time.time(), -1
    deadline = time.time() + settle_s
    while time.time() < deadline:
        q.processAllAvailable()
        n = sink.read(spark).count()
        if n != last:
            last, stable_since = n, time.time()
        elif time.time() - stable_since > 3:
            break
        time.sleep(0.5)
    q.stop()


def test_outer_join_stream_matches_batch(spark, tmp_path):
    src = _source_with_flush(spark, tmp_path)
    q, sink = run("outerjoin", spark, src, str(tmp_path / "work"))
    _drain(spark, q, sink)
    got = canon(sink.read(spark))
    want = canon(golden("outerjoin", spark, src))
    assert len(got) > 0
    assert got == want


def test_outer_join_unmatched_are_exactly_the_hash_holdout(spark, tmp_path):
    """Every doc_id with xxhash64 % 10 == 0 must appear ONLY as
    null-padded rows, and every other doc_id only as matched rows (the
    self-join guarantees a same-timestamp twin for kept ids)."""
    src = _source_with_flush(spark, tmp_path, seed=89)
    q, sink = run("outerjoin", spark, src, str(tmp_path / "work"))
    _drain(spark, q, sink)
    rows = sink.read(spark)
    bad = rows.withColumn(
        "holdout", F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0
    ).filter(
        (F.col("holdout") & F.col("matched"))
        | (~F.col("holdout") & ~F.col("matched"))
    )
    assert bad.count() == 0
    stats = rows.agg(
        F.sum(F.col("matched").cast("int")).alias("m"),
        F.sum((~F.col("matched")).cast("int")).alias("u"),
    ).collect()[0]
    assert stats["m"] > 0 and stats["u"] > 0
    unmatched = rows.filter(~F.col("matched"))
    assert unmatched.filter(
        (F.col("right_ts_s") != -1) | (F.col("right_ck") != -1)
    ).count() == 0


def test_outer_join_exactly_once_resume(spark, tmp_path):
    src = _source_with_flush(spark, tmp_path, seed=97)
    q, sink_full = run(
        "outerjoin", spark, src, str(tmp_path / "full"), max_files_per_trigger=4
    )
    _drain(spark, q, sink_full)
    want = canon(sink_full.read(spark))
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run("outerjoin", spark, src, work, max_files_per_trigger=1)
    stop_after_batch(q2, 3)  # kill mid-stream

    q3, sink3 = run("outerjoin", spark, src, work, max_files_per_trigger=1)
    _drain(spark, q3, sink3)
    assert canon(sink3.read(spark)) == want
