"""The spandedup deployable (14th): streaming C4-style keep-first
span dedup. Stream-vs-batch differential on the per-span-hash
(owner, dup_rows) table, kill/resume exactly-once, batching invariance.

The fixture plants exact span repeats across documents (small token
vocab + one hand-planted hot span), written as time-chunked parquet
files so micro-batches release rows incrementally; a far-future sentinel
with out-of-vocab tokens then drains every buffer. Ownership is
buffered-release (strict global (event_ts, ck) order), so the final
table must be identical for ANY batching — the property the test pins
by comparing a full run, a killed-and-resumed run with different
maxFilesPerTrigger, and the batch twin.
"""

import datetime
import random

from parallel_dataflow_spark.sources.sequences import (
    SEQUENCE_SCHEMA,
    read_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import run
from parallel_dataflow_spark.streaming.spandedup import (
    span_dedup_batch,
    span_prestage,
)
from tests.conftest import stop_after_batch

SPAN_W = 4
BASE = datetime.datetime(2026, 1, 1, 0, 0, 0)


def _write_fixture(spark, src: str) -> None:
    rng = random.Random(7)
    rows = []
    t = 0
    for i in range(72):
        doc = f"doc-{rng.randrange(24):04d}"
        n = rng.choice([4, 8, 8, 12])
        toks = [rng.randrange(8) for _ in range(n)]
        if i % 6 == 0:
            toks[:4] = [1, 2, 3, 4]  # planted hot span
        t += rng.randrange(0, 50)
        rows.append(
            (doc, toks, len(toks), "web", BASE + datetime.timedelta(seconds=t))
        )
    chunk = 12
    for ci in range(0, len(rows), chunk):
        spark.createDataFrame(
            rows[ci : ci + chunk], SEQUENCE_SCHEMA
        ).coalesce(1).write.mode("append").parquet(f"{src}/chunk{ci:03d}")


def _flush_sentinel(spark, src: str, month: int = 6) -> None:
    """Advance the watermark past every fixture row. Called TWICE with
    increasing ``month``: the first flush advances the watermark, but the
    buffered keys' final emissions then fire on event-time TIMERS, and
    processAllAvailable does not wait for no-data timer batches — the
    second flush turns the timer-firing batch into a DATA batch it must
    wait for (out-of-vocab tokens keep sentinel spans off fixture hashes,
    and canon() filters the sentinel owner)."""
    far = datetime.datetime(2026, month, 1, 0, 0, 0)
    row = [
        (
            "__sentinel__",
            list(range(90000 + month * 100, 90010 + month * 100)),
            10,
            "__sentinel__",
            far,
        )
    ]
    spark.createDataFrame(row, SEQUENCE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(f"{src}/sentinel{month}")


def canon(df):
    return sorted(
        tuple(r)
        for r in df.select("h", "owner_doc", "owner_idx", "dup_rows")
        .filter("owner_doc <> '__sentinel__'")
        .collect()
    )


def test_spandedup_stream_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_fixture(spark, src)

    q, sink = run("spandedup", spark, src, str(tmp_path / "full"), span_tokens=SPAN_W)
    q.processAllAvailable()
    _flush_sentinel(spark, src, month=6)
    q.processAllAvailable()
    _flush_sentinel(spark, src, month=7)
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))
    # drained span hashes keep no state: only the sentinels' own spans,
    # still buffered behind the watermark, may hold state rows
    sentinel_keys = (
        span_prestage(
            read_sequence_table(spark, src).filter("doc_id = '__sentinel__'"),
            SPAN_W,
        )
        .select("h")
        .distinct()
        .count()
    )
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] <= sentinel_keys

    want = canon(span_dedup_batch(read_sequence_table(spark, src), SPAN_W))
    assert got == want
    assert any(r[3] > 0 for r in want), "planted span repeats must dedup"
    dup_owned = {r[1] for r in want if r[3] > 0}
    assert len(dup_owned) > 1, "ownership must span multiple documents"

    # kill mid-stream, resume from checkpoint with DIFFERENT batching —
    # buffered release makes ownership batching-invariant, and running
    # emissions + the latest-wins keyed sink make the replay idempotent
    work = str(tmp_path / "resume")
    q2, _ = run(
        "spandedup", spark, src, work, span_tokens=SPAN_W, max_files_per_trigger=2
    )
    stop_after_batch(q2, 2)

    q3, sink3 = run(
        "spandedup", spark, src, work, span_tokens=SPAN_W, max_files_per_trigger=2
    )
    q3.processAllAvailable()
    # at mft=2 the resumed run takes both earlier sentinels in ONE
    # micro-batch, so the final releases would fire on a no-data timer
    # batch processAllAvailable does not wait for — a third, later
    # sentinel makes the timer-firing batch a data batch again
    _flush_sentinel(spark, src, month=8)
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want
