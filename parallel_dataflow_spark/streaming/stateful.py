"""Keyed stateful operators on ``applyInPandasWithState`` (SURVEY.md §2.2
'stateful ops'): the running per-doc accumulator (the 'mutable in/out
values across rounds' shape of the reference's worklist state,
impls/src/sequential.rs:23-24) and per-source token-quota admission over
event-time windows. Each has a batch twin that is its differential golden.

The per-row token work (sum/checksum, admission-order hash) is done
JVM-side BEFORE the stateful stage, so the state kernel only folds small
numeric rows — token arrays never enter the state store.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUTPUT_SCHEMA = (
    "doc_id string, n_seqs bigint, total_tokens bigint, token_checksum bigint"
)
_STATE_SCHEMA = "n_seqs bigint, total_tokens bigint, token_checksum bigint"
_CHECKSUM_MOD = 1 << 40


def _with_token_sum(df: DataFrame) -> DataFrame:
    token_sum = F.aggregate(
        F.col("tokens"), F.lit(0).cast("long"), lambda acc, t: acc + t.cast("long")
    )
    return df.select(
        "doc_id", "n_tok", F.pmod(token_sum, F.lit(_CHECKSUM_MOD)).alias("token_sum")
    )


def running_doc_stats_stream(stream: DataFrame) -> DataFrame:
    """Streaming: emits the running totals per key per batch (take the
    final emission per key for end-of-stream totals)."""
    src = _with_token_sum(stream)

    def kernel(key, pdf_iter, state):
        n, tok, ck = state.get if state.exists else (0, 0, 0)
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            n += len(pdf)
            tok += int(pdf["n_tok"].astype("int64").sum())
            ck = (ck + int(pdf["token_sum"].astype("int64").sum())) % _CHECKSUM_MOD
        state.update((int(n), int(tok), int(ck)))
        yield pd.DataFrame(
            {
                "doc_id": [key[0]],
                "n_seqs": [n],
                "total_tokens": [tok],
                "token_checksum": [ck],
            }
        )

    return src.groupBy("doc_id").applyInPandasWithState(
        kernel,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def running_doc_stats_batch(df: DataFrame) -> DataFrame:
    """Batch twin: one-shot groupBy fold — the differential golden."""
    return (
        _with_token_sum(df)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_seqs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.pmod(F.sum("token_sum"), F.lit(_CHECKSUM_MOD)).alias("token_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Per-source token-quota enforcement over event-time windows — the
# streaming face of the graded curate_token_budget entry.
# ---------------------------------------------------------------------------

QUOTA_OUTPUT_SCHEMA = (
    "source string, window_start bigint, admitted_tok bigint, "
    "rejected_tok bigint, admitted_rows bigint, rejected_rows bigint"
)


def quota_prestage(df: DataFrame) -> DataFrame:
    """JVM-side pre-stage: (source, event_ts, n_tok, ck) where ck is the
    cross-engine 60-bit hash of (doc_id, n_tok) that fixes the
    within-timestamp admission order. n_tok is part of the hash because a
    hot doc_id can emit several sequences in the SAME second: hashing
    doc_id alone left those rows tied in the (ts, ck) sort, and when they
    straddled the budget boundary the admitted/rejected split depended on
    the arbitrary tie order (caught by the kill/resume differential —
    replayed batches broke ties differently). With n_tok folded in,
    remaining ties are between rows with equal token counts, which are
    fungible for the split. Token arrays (if present) die here."""
    from parallel_dataflow_spark.functions.text import md5_60bit

    return df.select(
        "source",
        "event_ts",
        F.col("n_tok").cast("long").alias("n_tok"),
        md5_60bit(
            F.concat_ws(":", F.col("doc_id").cast("string"),
                        F.col("n_tok").cast("string"))
        ).alias("ck"),
    )


def token_quota_batch(
    df: DataFrame, budget: int, window_sec: int = 3600
) -> DataFrame:
    """Batch twin (the differential golden): greedy prefix under the
    cumulative RAW token cap per (source, window), order (event_ts, ck) —
    one window cumsum, one aggregation."""
    from pyspark.sql import Window as W

    src = quota_prestage(df)
    win_us = int(window_sec) * 1_000_000
    ts_us = F.col("event_ts").cast("timestamp_ltz").cast("long") * 1_000_000
    w = ts_us - F.pmod(ts_us, F.lit(win_us))
    cum = F.sum("n_tok").over(
        W.partitionBy("source", "window_start")
        .orderBy(F.col("event_ts").asc(), F.col("ck").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    admitted = F.col("cum_tok") <= F.lit(int(budget))
    return (
        src.withColumn("window_start", w)
        .withColumn("cum_tok", cum)
        .groupBy("source", "window_start")
        .agg(
            F.sum(F.when(admitted, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("admitted_tok"),
            F.sum(F.when(~admitted, F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("rejected_tok"),
            F.sum(F.when(admitted, 1).otherwise(0))
            .cast("long")
            .alias("admitted_rows"),
            F.sum(F.when(~admitted, 1).otherwise(0))
            .cast("long")
            .alias("rejected_rows"),
        )
    )


_QUOTA_STATE_SCHEMA = (
    "b_ts array<bigint>, b_tok array<bigint>, b_ck array<bigint>, "
    "wins array<bigint>, raws array<bigint>, adm_t array<bigint>, "
    "rej_t array<bigint>, adm_r array<bigint>, rej_r array<bigint>"
)


def token_quota_stream(
    stream: DataFrame,
    budget: int,
    window_sec: int = 3600,
    ttl_sec: int = 3600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Quota enforcement keyed by source.

    Semantics: sequences are admitted per event-time window while the
    window's cumulative RAW token total stays within ``budget``, in
    strict GLOBAL (event_ts, ck) order. To make that order independent
    of micro-batch boundaries (events arrive out of event-time order),
    rows are BUFFERED in state until the watermark passes them — the CEP
    buffer discipline — and only then folded into the per-window totals.
    Releases are monotone in the watermark, so the fold order over all
    released rows equals the batch twin's global sort for any batching
    (kill/resume differential caught the eager-admission variant flipping
    boundary rows between batchings). Raw totals (not admitted-only) are
    the state because they are a monotone counter: the admitted/rejected
    split at any prefix is then a pure function of the released prefix.

    State: one row per source holding the buffer and the live windows'
    totals as parallel arrays. Windows whose end + ttl falls behind the
    watermark can never change and are purged; the EventTimeTimeout
    wakes the key at the earliest actionable instant (min(buffered ts,
    purge horizon)), so a dead source retains no state.

    Emits per batch one row per window touched by newly released rows,
    carrying the window's RUNNING totals — latest emission per
    (source, window) is final, which is what a keyed latest-wins upsert
    sink needs."""
    window_us = int(window_sec) * 1_000_000
    ttl_us = int(ttl_sec) * 1_000_000
    budget = int(budget)

    def kernel(key, pdf_iter, state):
        import pandas as pd  # worker-side

        buf: list[tuple[int, int, int]] = []
        spent: dict[int, list[int]] = {}
        if state.exists:
            b_ts, b_tok, b_ck, wins, raws, adm_t, rej_t, adm_r, rej_r = state.get
            buf = [
                (int(a), int(b), int(c)) for a, b, c in zip(b_ts, b_tok, b_ck)
            ]
            spent = {
                int(w): [int(a), int(b), int(c), int(d), int(e)]
                for w, a, b, c, d, e in zip(wins, raws, adm_t, rej_t, adm_r, rej_r)
            }
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            ts = pdf["event_ts"].astype("datetime64[us]").astype("int64")
            buf.extend(
                zip(
                    ts.tolist(),
                    pdf["n_tok"].astype("int64").tolist(),
                    pdf["ck"].astype("int64").tolist(),
                )
            )
        wm_us = max(state.getCurrentWatermarkMs(), 0) * 1000
        buf.sort(key=lambda r: (r[0], r[2]))
        release = [r for r in buf if r[0] <= wm_us]
        remain = [r for r in buf if r[0] > wm_us]

        touched: set[int] = set()
        for ts_us, n_tok, _ck in release:
            w = ts_us - ts_us % window_us
            st = spent.setdefault(w, [0, 0, 0, 0, 0])
            st[0] += n_tok
            if st[0] <= budget:
                st[1] += n_tok
                st[3] += 1
            else:
                st[2] += n_tok
                st[4] += 1
            touched.add(w)

        # emit from PRE-purge values: a large watermark jump (e.g. a
        # flush sentinel) can release rows into windows that are already
        # purge-eligible — their final totals must still be published
        emitted = {w: list(spent[w]) for w in touched}
        spent = {
            w: st for w, st in spent.items() if w + window_us + ttl_us > wm_us
        }
        if remain or spent:
            ws = sorted(spent)
            state.update(
                (
                    [r[0] for r in remain],
                    [r[1] for r in remain],
                    [r[2] for r in remain],
                    ws,
                    [spent[w][0] for w in ws],
                    [spent[w][1] for w in ws],
                    [spent[w][2] for w in ws],
                    [spent[w][3] for w in ws],
                    [spent[w][4] for w in ws],
                )
            )
            horizons = []
            if remain:
                horizons.append(min(r[0] for r in remain) // 1000 + 1)
            if ws:
                horizons.append((min(ws) + window_us + ttl_us) // 1000 + 1)
            state.setTimeoutTimestamp(max(min(horizons), wm_us // 1000 + 1))
        else:
            state.remove()

        if emitted:
            ws_e = sorted(emitted)
            yield pd.DataFrame(
                {
                    "source": key[0],
                    "window_start": ws_e,
                    "admitted_tok": [emitted[w][1] for w in ws_e],
                    "rejected_tok": [emitted[w][2] for w in ws_e],
                    "admitted_rows": [emitted[w][3] for w in ws_e],
                    "rejected_rows": [emitted[w][4] for w in ws_e],
                }
            )

    src = quota_prestage(stream).withWatermark("event_ts", watermark)
    return src.groupBy("source").applyInPandasWithState(
        kernel,
        outputStructType=QUOTA_OUTPUT_SCHEMA,
        stateStructType=_QUOTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
