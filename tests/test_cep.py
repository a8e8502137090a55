"""CEP NFA tests (FIXTURES.md B3): planted patterns + negative controls;
streaming result must equal the batch reference (confluence under
micro-batching), and a pure-Python golden validates both."""

import hashlib
import os

import numpy as np
import pandas as pd
import pytest

from parallel_dataflow_spark.sources.sequences import SEQUENCE_SCHEMA
from parallel_dataflow_spark.streaming.cep import (
    KEY_GROUPS,
    Pattern,
    advance_nfa,
    match_pattern_batch,
    match_pattern_stream,
)

BASE = np.datetime64("2026-01-01T00:00:00")
PATTERN = Pattern.of([[101], [102], [103]], gap_seconds=300)


def _rows():
    """Three docs: full match, gap-broken match, negative control — plus a
    doc with two overlapping matches."""
    rows = []

    def add(doc, minute, tokens):
        rows.append(
            {
                "doc_id": doc,
                "tokens": tokens,
                "n_tok": len(tokens),
                "source": "web",
                "event_ts": BASE + np.timedelta64(minute * 60 + len(rows), "s"),
            }
        )

    # doc match: 101 → 102 → 103 within gaps
    add("match", 0, [1, 101, 2])
    add("match", 2, [102])
    add("match", 4, [5, 103])
    # doc gapbreak: same steps but 102→103 gap > 5 min
    add("gapbreak", 0, [101])
    add("gapbreak", 2, [102])
    add("gapbreak", 20, [103])
    # doc negative: never contains 102
    add("negative", 0, [101, 103])
    add("negative", 1, [103, 104])
    # doc double: two complete sequential matches
    add("double", 0, [101])
    add("double", 1, [102])
    add("double", 2, [103])
    add("double", 3, [101, 102])  # satisfies steps 0 and 1 — starts fresh
    add("double", 4, [102])
    add("double", 5, [103])
    # tail sentinel far in the future so the watermark passes everything
    add("sentinel", 120, [0])
    return rows


@pytest.fixture(scope="module")
def cep_df(spark):
    pdf = pd.DataFrame(_rows())
    pdf["event_ts"] = pdf["event_ts"].astype("datetime64[us]")
    return spark.createDataFrame(pdf, schema=SEQUENCE_SCHEMA)


def _md5_60(tokens):
    """The release-order tie-break (md5_60 of the comma-joined tokens)."""
    return int(hashlib.md5(",".join(map(str, tokens)).encode()).hexdigest()[:15], 16)


def golden_matches(rows, pattern):
    """Pure-Python reference matcher (generation-time golden)."""
    out = []
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        rs = sorted(rs, key=lambda r: (r["event_ts"], _md5_60(r["tokens"])))
        ts = np.array(
            [int(pd.Timestamp(r["event_ts"]).value // 1000) for r in rs], dtype=np.int64
        )
        mask = np.array(
            [
                sum(1 << i for i, step in enumerate(pattern.steps) if step.intersection(r["tokens"]))
                for r in rs
            ],
            dtype=np.int32,
        )
        st, sa, sl = [], [], []
        for m in advance_nfa(pattern, ts, mask, st, sa, sl):
            out.append((doc, m[0], m[1], m[2]))
    return sorted(out)


def _run_stream(spark, src, pattern, name, ckpt, **kwargs):
    """Replay ``src`` one file per micro-batch through match_pattern_stream
    (``kwargs``) into a memory sink; returns (sorted matches, progress)."""
    from parallel_dataflow_spark.sources.sequences import read_sequence_stream

    stream = read_sequence_stream(spark, src, max_files_per_trigger=1)
    q = (
        match_pattern_stream(stream, pattern, **kwargs)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql(f"select * from {name}").collect())
    return got, q.recentProgress


def test_nfa_semantics(cep_df):
    rows = _rows()
    golden = golden_matches(rows, PATTERN)
    docs = {g[0] for g in golden}
    assert docs == {"match", "double"}
    assert len([g for g in golden if g[0] == "double"]) == 2


def test_batch_matcher_equals_golden(spark, cep_df):
    got = sorted(tuple(r) for r in match_pattern_batch(cep_df, PATTERN).collect())
    assert got == golden_matches(_rows(), PATTERN)


def test_stream_matcher_equals_batch(spark, cep_df, tmp_path):
    src = str(tmp_path / "cep_src")
    os.makedirs(src)
    pdf = pd.DataFrame(_rows())
    pdf["event_ts"] = pdf["event_ts"].astype("datetime64[us]")
    # write in 4 files split by time so matches span micro-batches
    pdf = pdf.sort_values("event_ts")
    for i, part in enumerate(np.array_split(pdf, 4)):
        spark.createDataFrame(part, schema=SEQUENCE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"chunk={i:04d}"))

    got, _ = _run_stream(
        spark, src, PATTERN, "cep_out", tmp_path / "ckpt", watermark="1 minute"
    )
    want = golden_matches(_rows(), PATTERN)
    # the sentinel pushes the watermark past every buffered row, so all
    # matches must have been released and emitted
    assert got == want


def test_stream_matcher_out_of_order_arrival(spark, cep_df, tmp_path):
    """Batching-independence: rows arrive SHUFFLED across micro-batches
    (files split randomly, not by time; the far-future sentinel arrives
    last). The buffer-until-watermark release must still feed the NFA in
    (event_ts, checksum) order, so the match set equals the batch twin —
    the streaming analogue of the reference's any-schedule-same-fixpoint
    differential (test.rs:21-70). The 30-minute watermark exceeds the
    non-sentinel span (~20 min), so no shuffled row is ever late."""
    src = str(tmp_path / "cep_src_ooo")
    os.makedirs(src)
    rows = _rows()
    body = [r for r in rows if r["doc_id"] != "sentinel"]
    rng = np.random.default_rng(11)
    order = rng.permutation(len(body))
    shuffled = [body[i] for i in order]
    chunks = np.array_split(np.arange(len(shuffled)), 3)
    for i, idxs in enumerate(chunks):
        pdf = pd.DataFrame([shuffled[j] for j in idxs])
        pdf["event_ts"] = pdf["event_ts"].astype("datetime64[us]")
        spark.createDataFrame(pdf, schema=SEQUENCE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"chunk={i:04d}"))
    sent = pd.DataFrame([r for r in rows if r["doc_id"] == "sentinel"])
    sent["event_ts"] = sent["event_ts"].astype("datetime64[us]")
    spark.createDataFrame(sent, schema=SEQUENCE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "chunk=0003"))

    got, _ = _run_stream(
        spark, src, PATTERN, "cep_ooo_out", tmp_path / "ckpt_ooo", watermark="30 minutes"
    )
    assert got == golden_matches(_rows(), PATTERN)


def test_stream_matcher_bounded_buffer(spark, cep_df, tmp_path):
    """max_buffer_rows caps per-doc state by releasing the OLDEST overflow
    rows through the NFA early. With in-order arrival (files split by
    time) the early release preserves the match set exactly."""
    src = str(tmp_path / "cep_src_cap")
    os.makedirs(src)
    pdf = pd.DataFrame(_rows())
    pdf["event_ts"] = pdf["event_ts"].astype("datetime64[us]")
    pdf = pdf.sort_values("event_ts")
    for i, part in enumerate(np.array_split(pdf, 4)):
        spark.createDataFrame(part, schema=SEQUENCE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"chunk={i:04d}"))

    # normal watermark, cap=1: between batches the lagging watermark keeps
    # >1 row buffered, so the overflow path releases the oldest rows early;
    # the sentinel still watermark-flushes the tail, and with in-order
    # arrival the final match set is unchanged
    overflow = spark.sparkContext.accumulator(0)
    got, _ = _run_stream(
        spark, src, PATTERN, "cep_cap_out", tmp_path / "ckpt_cap",
        watermark="1 minute", max_buffer_rows=1, overflow_acc=overflow,
    )
    assert got == golden_matches(_rows(), PATTERN)
    # the documented determinism degradation must be OBSERVABLE: the
    # overflow accumulator counts rows released ahead of the watermark
    assert overflow.value > 0


def _write_files(src, tables):
    """One parquet file per table, modification times strictly increasing
    in list order, so the file stream reads them in that order."""
    import pyarrow.parquet as pq

    t0 = 1_700_000_000
    for i, t in enumerate(tables):
        d = os.path.join(src, f"chunk={i:04d}")
        os.makedirs(d)
        path = os.path.join(d, "part-0.parquet")
        pq.write_table(t, path)
        os.utime(path, (t0 + 10 * i, t0 + 10 * i))


def _sequence_table(rows):
    import pyarrow as pa

    return pa.table(
        {
            "doc_id": pa.array([r["doc_id"] for r in rows]),
            "tokens": pa.array([r["tokens"] for r in rows], type=pa.list_(pa.int32())),
            "n_tok": pa.array([len(r["tokens"]) for r in rows], type=pa.int32()),
            "source": pa.array(["web"] * len(rows)),
            "event_ts": pa.array(
                [r["event_ts"] for r in rows], type=pa.timestamp("us", tz="UTC")
            ),
        }
    )


def test_stream_key_groups_many_docs_out_of_order(spark, tmp_path):
    """Key-group state differential: ~600 docs (hot keys included) share
    the KEY_GROUPS state rows. Rows arrive out of event-time order — each
    is delayed by a random jitter below the watermark delay, so none is
    late — and are released batch by batch. Stream == batch twin ==
    pure-Python golden, and no progress record holds more state rows than
    there are key groups."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    from parallel_dataflow_spark.sources.sequences import (
        read_sequence_table,
        write_sequence_table,
    )

    gen = str(tmp_path / "gen")
    write_sequence_table(spark, gen, 3000, seed=21, n_files=1, n_docs=600, rows_per_sec=2)
    table = ds.dataset(gen, format="parquet", partitioning=None).to_table()
    n_docs = len(pc.unique(table.column("doc_id")))
    assert n_docs > 4 * KEY_GROUPS

    rng = np.random.default_rng(5)
    ts_s = table.column("event_ts").cast("int64").to_numpy() // 1_000_000
    arrival = np.argsort(ts_s + rng.integers(0, 300, size=len(ts_s)), kind="stable")
    assert (np.diff(ts_s[arrival]) < 0).sum() > len(ts_s) // 4  # really out of order
    src = str(tmp_path / "src")
    sentinel = {
        "doc_id": "sentinel",
        "tokens": [49_999],
        "event_ts": pd.Timestamp(int(ts_s.max()) + 86_400, unit="s", tz="UTC"),
    }
    _write_files(
        src,
        [table.take(pa.array(idx)) for idx in np.array_split(arrival, 6)]
        + [_sequence_table([sentinel])],
    )

    pattern = Pattern.of([list(range(0, 25_000)), list(range(25_000, 50_257))], 600)
    got, progress = _run_stream(
        spark, src, pattern, "cep_kg_out", tmp_path / "ckpt", watermark="6 minutes"
    )
    want = golden_matches(table.to_pylist(), pattern)
    assert len(want) > 100
    assert got == want
    batch = sorted(
        tuple(r) for r in match_pattern_batch(read_sequence_table(spark, src), pattern).collect()
    )
    assert batch == want
    rows_total = [p.stateOperators[0].numRowsTotal for p in progress]
    assert max(rows_total) > 1
    assert all(n <= KEY_GROUPS for n in rows_total), rows_total


def test_stream_drops_late_row_while_group_holds_state(spark, tmp_path):
    """A row at or behind the watermark, for a doc whose key group still
    holds state (another doc's buffered row), is dropped by
    applyInPandasWithState before the kernel sees it — the premise of the
    key-group exactness argument. Watermark delay 1 minute; the late rows
    (A 101@22m, A 102@23m) arrive once the watermark is at 44m and would
    form two matches for A if admitted."""
    from pyspark.sql import functions as F

    docs = [f"d{i}" for i in range(400)]
    kg = dict(
        spark.createDataFrame([(d,) for d in docs], "doc_id string")
        .select("doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(KEY_GROUPS)))
        .collect()
    )
    a = docs[0]
    b = next(d for d in docs[1:] if kg[d] == kg[a])
    c = next(d for d in docs[1:] if kg[d] != kg[a])

    def row(doc, minute, tokens):
        return {
            "doc_id": doc,
            "tokens": tokens,
            "event_ts": pd.Timestamp("2026-01-01", tz="UTC") + pd.Timedelta(minutes=minute),
        }

    files = [
        [row(a, 20, [101]), row(b, 21, [7])],
        [row(c, 40, [101]), row(b, 45, [7])],  # b@45 stays buffered: a's group holds state
        [row(c, 41, [102])],
        [row(a, 22, [101]), row(a, 23, [102])],  # late: watermark is 44m
        [row("sentinel", 24 * 60, [0])],
    ]
    src = str(tmp_path / "src")
    _write_files(src, [_sequence_table(f) for f in files])
    pattern = Pattern.of([[101], [102]], gap_seconds=300)
    got, progress = _run_stream(
        spark, src, pattern, "cep_late_out", tmp_path / "ckpt", watermark="1 minute"
    )

    on_time = [r for f in files[:3] + files[4:] for r in f]
    want = golden_matches(on_time, pattern)
    assert [m[0] for m in want] == [c]
    assert golden_matches(on_time + files[3], pattern) != want
    assert got == want
    dropped = [p.stateOperators[0] for p in progress if p.stateOperators[0].numRowsDroppedByWatermark]
    assert [op.numRowsDroppedByWatermark for op in dropped] == [2]
    assert dropped[0].numRowsTotal > 0


def test_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream join vs its batch twin."""
    from parallel_dataflow_spark.sources.sequences import read_sequence_stream, write_sequence_table
    from parallel_dataflow_spark.streaming.windows import stream_stream_token_join

    src = str(tmp_path / "join_src")
    write_sequence_table(spark, src, 400, seed=7, n_files=4)

    left_s = read_sequence_stream(spark, src, 2)
    right_s = read_sequence_stream(spark, src, 2)
    joined = stream_stream_token_join(left_s, right_s)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj")
        .option("checkpointLocation", str(tmp_path / "jckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("select * from ssj")

    from parallel_dataflow_spark.sources.sequences import read_sequence_table

    batch = read_sequence_table(spark, src)
    want = stream_stream_token_join(batch, batch)
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert len(g) > 0
    assert g == w
    # self-join: every row pairs with itself → tokens_match true there
    assert all(r for r in got.filter("left_ts = right_ts").select("tokens_match").collect())
