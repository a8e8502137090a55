"""Streaming C4-style keep-first span deduplication over token arrays.

The batch rule (Raffel et al. 2020 S 2.2, cf. operators/dedup.c4_span_dedup
for the text-side variant): every occurrence of a token span after its
globally first occurrence is a duplicate. On a stream "globally first"
must be made batching-invariant, so this module applies the repo's
buffered-release discipline (CEP / token quota): rows keyed by
span hash are BUFFERED until the watermark passes them, then folded in
strict (event_ts, ck) order — the first released row per span hash owns
the span, every later release is a duplicate. The fold order over all
released rows equals the batch twin's global sort for ANY micro-batch
split, so full-run == kill/resume == batch twin, row for row.

Guarantee horizon: like dropDuplicatesWithinWatermark (the dedup job), a
duplicate arriving later than watermark + ttl after the owner's last
activity re-admits — the state for a span hash purges once it can no
longer change. Bounded state is non-negotiable on a 10^12-sequence
stream; the within-horizon guarantee is the price, and the keyed
latest-wins sink absorbs re-emissions.

Scale shape: spans are exploded and hashed MAP-SIDE (span_prestage) — the
token payload dies before the stateful exchange, which carries
(h, event_ts, doc_id, span_idx, ck) fixed-width rows. Per-key state is
one owner record plus the sub-horizon buffer; a span hash that stops
arriving retains nothing after its purge timeout fires. Emissions carry the
RUNNING (owner, dup_rows) record per span hash — latest emission per h is
final, which is exactly what the keyed upsert sink needs under replay.

What this buys over the built-in dropDuplicatesWithinWatermark: a
deterministic (batching-invariant) owner, per-span duplicate accounting,
and an explicit ttl — none of which the built-in exposes.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parallel_dataflow_spark.functions.text import md5_60bit

SPANDEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("h", T.LongType(), False),
        T.StructField("owner_doc", T.StringType(), False),
        T.StructField("owner_idx", T.LongType(), False),
        T.StructField("dup_rows", T.LongType(), False),
    ]
)

_STATE_SCHEMA = (
    "b_ts array<bigint>, b_ck array<bigint>, b_doc array<string>, "
    "b_idx array<bigint>, own_doc string, own_idx bigint, "
    "dup_rows bigint, last_ts bigint"
)


def span_prestage(df: DataFrame, span_tokens: int = 16) -> DataFrame:
    """JVM-side pre-stage: explode non-overlapping ``span_tokens``-token
    blocks and project each to (h, event_ts, doc_id, span_idx, ck). The
    token slices die here — only the 64-bit span hash crosses the
    stateful exchange. ck is the cross-engine 60-bit hash of
    (doc_id, span_idx), the within-timestamp tie-break of the release
    order (the quota prestage lesson: same-second rows must be ordered or
    fungible — distinct (doc_id, span_idx) pairs are never fungible for
    ownership, so they are always ordered)."""
    w = int(span_tokens)
    n_spans = F.ceil(F.size("tokens") / F.lit(float(w))).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.slice("tokens", i * w + 1, w),
    )
    return df.select(
        "doc_id", "event_ts", F.posexplode(spans).alias("span_idx", "span")
    ).select(
        F.xxhash64("span").alias("h"),
        "event_ts",
        "doc_id",
        F.col("span_idx").cast("long").alias("span_idx"),
        md5_60bit(
            F.concat_ws(":", "doc_id", F.col("span_idx").cast("string"))
        ).alias("ck"),
    )


def _fold(buf, owner, wm_us):
    """Shared release fold: sort (ts, ck, doc, idx), release rows at or
    behind the watermark into the owner record, keep the rest buffered.
    owner = [own_doc, own_idx, dup_rows, last_ts] or None. Returns
    (owner, remain, changed)."""
    buf.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
    release = [r for r in buf if r[0] <= wm_us]
    remain = [r for r in buf if r[0] > wm_us]
    if not release:
        return owner, remain, False
    if owner is None:
        first = release[0]
        owner = [first[2], first[3], len(release) - 1, release[-1][0]]
    else:
        owner[2] += len(release)
        owner[3] = max(owner[3], release[-1][0])
    return owner, remain, True


def span_dedup_stream(
    stream: DataFrame,
    span_tokens: int = 16,
    ttl_sec: int = 3600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming keep-first span dedup keyed by span hash: one state row
    holds the sub-watermark buffer (parallel arrays) and the owner record;
    the EventTimeTimeout wakes the key at the earliest actionable instant
    (min buffered ts, else the purge horizon). When the horizon closes
    with nothing buffered the state is removed, but a release in the same
    call still emits its final record (a large watermark jump can release
    and close in one step)."""
    src = span_prestage(stream, span_tokens).withWatermark(
        "event_ts", watermark
    )
    ttl_us = int(ttl_sec) * 1_000_000

    def kernel(key, pdf_iter, state):
        buf: list[tuple[int, int, str, int]] = []
        owner = None
        if state.exists:
            b_ts, b_ck, b_doc, b_idx, od, oi, dr, lt = state.get
            buf = [
                (int(a), int(b), str(c), int(d))
                for a, b, c, d in zip(b_ts, b_ck, b_doc, b_idx)
            ]
            if od is not None:
                owner = [str(od), int(oi), int(dr), int(lt)]
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            ts = pdf["event_ts"].astype("datetime64[us]").astype("int64")
            buf.extend(
                zip(
                    ts.tolist(),
                    pdf["ck"].astype("int64").tolist(),
                    pdf["doc_id"].astype(str).tolist(),
                    pdf["span_idx"].astype("int64").tolist(),
                )
            )
        wm_us = max(state.getCurrentWatermarkMs(), 0) * 1000
        owner, remain, changed = _fold(buf, owner, wm_us)

        if not remain and (
            owner is None or owner[3] + ttl_us <= wm_us
        ):
            state.remove()
        else:
            state.update(
                (
                    [r[0] for r in remain],
                    [r[1] for r in remain],
                    [r[2] for r in remain],
                    [r[3] for r in remain],
                    owner[0] if owner else None,
                    owner[1] if owner else None,
                    owner[2] if owner else None,
                    owner[3] if owner else None,
                )
            )
            horizons = []
            if remain:
                horizons.append(min(r[0] for r in remain) // 1000 + 1)
            if owner is not None:
                horizons.append((owner[3] + ttl_us) // 1000 + 1)
            if horizons:
                state.setTimeoutTimestamp(
                    max(min(horizons), wm_us // 1000 + 1)
                )
        if changed and owner is not None:
            yield pd.DataFrame(
                {
                    "h": [int(key[0])],
                    "owner_doc": [owner[0]],
                    "owner_idx": [owner[1]],
                    "dup_rows": [owner[2]],
                }
            )

    return src.groupBy("h").applyInPandasWithState(
        kernel,
        outputStructType=SPANDEDUP_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def span_dedup_batch(df: DataFrame, span_tokens: int = 16) -> DataFrame:
    """Batch twin (the differential golden): global keep-first per span
    hash in (event_ts, ck, doc_id, span_idx) order — one min_by
    aggregation over the prestage triples."""
    src = span_prestage(df, span_tokens)
    ts_us = F.col("event_ts").cast("timestamp_ltz").cast("long") * 1_000_000
    keyed = src.select(
        "h",
        F.struct(
            ts_us.alias("ts"),
            F.col("ck"),
            F.col("doc_id").alias("doc"),
            F.col("span_idx").alias("idx"),
        ).alias("ord"),
    )
    return keyed.groupBy("h").agg(
        F.min("ord").getField("doc").alias("owner_doc"),
        F.min("ord").getField("idx").alias("owner_idx"),
        (F.count("*") - 1).cast("long").alias("dup_rows"),
    )
