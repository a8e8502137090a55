"""Custom keyed stateful operators on Spark 4.x transformWithStateInPandas
(the successor API to applyInPandasWithState; SURVEY.md §2.2 'stateful
ops'). The CEP engine (cep.py) uses applyInPandasWithState — this module
covers the modern API surface with three processors, one per state
primitive: RunningDocStats (ValueState — the 'mutable in/out values
across rounds' shape of the reference's worklist state,
impls/src/sequential.rs:23-24), CepPatternProcessor (ListState + event
-time timers), and TokenQuotaProcessor (MapState + timer-driven purge).

The per-row token work (sum/checksum) is done JVM-side BEFORE the
stateful stage, so the state kernel only folds small numeric rows —
token arrays never enter the state store.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

OUTPUT_SCHEMA = (
    "doc_id string, n_seqs bigint, total_tokens bigint, token_checksum bigint"
)
_STATE_SCHEMA = "n_seqs bigint, total_tokens bigint, token_checksum bigint"
_CHECKSUM_MOD = 1 << 40


class RunningDocStats(StatefulProcessor):
    """ValueState accumulator: per doc_id, fold (count, Σ n_tok,
    Σ token_sum mod 2^40) across micro-batches; emits the RUNNING totals
    once per batch in which the key received rows."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("doc_stats", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        n, tok, ck = 0, 0, 0
        if self._state.exists():
            n, tok, ck = self._state.get()
        for pdf in rows:
            if pdf.empty:
                continue
            n += len(pdf)
            tok += int(pdf["n_tok"].astype("int64").sum())
            ck = (ck + int(pdf["token_sum"].astype("int64").sum())) % _CHECKSUM_MOD
        self._state.update((n, tok, ck))
        yield pd.DataFrame(
            {
                "doc_id": [key[0]],
                "n_seqs": [n],
                "total_tokens": [tok],
                "token_checksum": [ck],
            }
        )

    def close(self) -> None:
        pass


def _with_token_sum(df: DataFrame) -> DataFrame:
    token_sum = F.aggregate(
        F.col("tokens"), F.lit(0).cast("long"), lambda acc, t: acc + t.cast("long")
    )
    return df.select(
        "doc_id", "n_tok", F.pmod(token_sum, F.lit(_CHECKSUM_MOD)).alias("token_sum")
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs google.protobuf for its state
    protocol (pyspark/sql/streaming/proto/StateMessage_pb2.py); this
    sandbox image lacks it, so the engine auto-falls-back to
    applyInPandasWithState (same semantics, prior-generation API)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_doc_stats_stream(stream: DataFrame, api: str = "auto") -> DataFrame:
    """Streaming: emits the running totals per key per batch (take the
    final emission per key for end-of-stream totals). ``api``: 'tws'
    (transformWithStateInPandas), 'apws' (applyInPandasWithState), or
    'auto' (tws when its protobuf dependency is importable)."""
    if api == "auto":
        api = "tws" if tws_available() else "apws"
    src = _with_token_sum(stream)
    if api == "tws":
        return src.groupBy("doc_id").transformWithStateInPandas(
            statefulProcessor=RunningDocStats(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="None",
        )

    import pandas as pd  # noqa: F811 (worker-side import)

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


_CEP_BUF_SCHEMA = "ts bigint, mask int, ck bigint"
_CEP_PARTIAL_SCHEMA = "p_state int, p_start bigint, p_last bigint"


class CepPatternProcessor(StatefulProcessor):
    """TWS variant of the CEP buffer (streaming/cep.py): ListState for the
    watermark-ordered row buffer, ListState for NFA partial matches, a
    ValueState-tracked event-time timer for the gap-timeout flush. The NFA
    itself is the SAME pure kernel (cep.advance_nfa) the apws path and the
    batch twin run, so all three stay semantics-identical by construction.

    Rows arrive pre-staged as (event_ts, mask, ck) — the step-membership
    bitmask and release-order checksum are computed JVM-side before the
    stateful stage (cep_prestage), so token arrays never enter the state
    store (same at-scale rule as RunningDocStats).

    Per batch: append new rows, release everything at-or-behind the
    watermark through the NFA in strict (event_ts, ck) order, retain the
    rest (bounded by max_buffer_rows with the same oldest-first overflow
    release + accumulator as the apws kernel), and (re-)register one timer
    at max(buffered horizon + gap, watermark)+1ms; the expired-timer hook
    flushes the remaining buffer and expired partials."""

    def __init__(self, pattern, max_buffer_rows: int = 100_000, overflow_acc=None):
        self._pattern = pattern
        self._max_buffer_rows = max_buffer_rows
        self._overflow_acc = overflow_acc

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._buf = handle.getListState("cep_buffer", _CEP_BUF_SCHEMA)
        self._partials = handle.getListState("cep_partials", _CEP_PARTIAL_SCHEMA)
        self._timer = handle.getValueState("cep_timer", "t bigint")

    def _advance(self, wm_us: int, new_rows: list, force_all: bool):
        import numpy as np

        from parallel_dataflow_spark.streaming.cep import advance_nfa

        buf = [tuple(r) for r in (self._buf.get() if self._buf.exists() else [])]
        buf.extend(new_rows)
        p_state: list[int] = []
        p_start: list[int] = []
        p_last: list[int] = []
        if self._partials.exists():
            for s, st, lt in self._partials.get():
                p_state.append(int(s))
                p_start.append(int(st))
                p_last.append(int(lt))

        ts = np.array([r[0] for r in buf], dtype=np.int64)
        mask = np.array([r[1] for r in buf], dtype=np.int32)
        ck = np.array([r[2] for r in buf], dtype=np.int64)
        if len(buf):
            # strict (event_ts, checksum) release order — identical to the
            # apws kernel and the batch twin's sort
            order = np.lexsort((ck, ts))
            ts, mask, ck = ts[order], mask[order], ck[order]

        if force_all:
            release = np.ones(len(ts), dtype=bool)
        else:
            release = ts <= wm_us
            n_rem = int((~release).sum())
            if n_rem > self._max_buffer_rows:
                n_released = int(release.sum())
                release = np.arange(len(ts)) < (len(ts) - self._max_buffer_rows)
                if self._overflow_acc is not None:
                    self._overflow_acc.add(int(release.sum()) - n_released)

        matches = advance_nfa(
            self._pattern, ts[release], mask[release], p_state, p_start, p_last
        )

        # prune partials no future row can extend (future ts > wm and
        # extension needs ts - p_last <= gap): otherwise an expired key
        # whose partial survived advance_nfa re-registers a wm+1 timer
        # forever — the timer storm / unbounded-state bug
        _gap_us = self._pattern.gap_seconds * 1_000_000
        _live = [j for j in range(len(p_state)) if wm_us - p_last[j] <= _gap_us]
        if len(_live) != len(p_state):
            p_state[:] = [p_state[j] for j in _live]
            p_start[:] = [p_start[j] for j in _live]
            p_last[:] = [p_last[j] for j in _live]

        rem = ~release
        self._buf.clear()
        if rem.any():
            self._buf.put(
                [
                    (int(a), int(b), int(c))
                    for a, b, c in zip(ts[rem], mask[rem], ck[rem])
                ]
            )
        self._partials.clear()
        if p_state:
            self._partials.put(
                [
                    (int(s), int(st), int(lt))
                    for s, st, lt in zip(p_state, p_start, p_last)
                ]
            )

        # ONE live timer per key: delete-then-register on horizon change
        old = int(self._timer.get()[0]) if self._timer.exists() else None
        if rem.any() or p_state:
            horizon_us = max(
                int(ts[rem].max()) if rem.any() else 0,
                max(p_last) if p_last else 0,
            )
            t_ms = max(
                horizon_us // 1000 + self._pattern.gap_seconds * 1000 + 1,
                wm_us // 1000 + 1,
            )
            if old != t_ms:
                if old is not None:
                    self._handle.deleteTimer(old)
                self._handle.registerTimer(t_ms)
                self._timer.update((t_ms,))
        else:
            if old is not None:
                self._handle.deleteTimer(old)
            self._timer.clear()
        return matches

    @staticmethod
    def _emit(key, matches):
        if matches:
            yield pd.DataFrame(
                {
                    "doc_id": key[0],
                    "match_start_ts": [m[0] for m in matches],
                    "match_end_ts": [m[1] for m in matches],
                    "n_steps": [m[2] for m in matches],
                }
            )

    def handleInputRows(self, key, rows, timerValues):
        new: list[tuple[int, int, int]] = []
        for pdf in rows:
            if pdf.empty:
                continue
            ts = pdf["event_ts"].astype("datetime64[us]").astype("int64")
            new.extend(
                zip(
                    ts.tolist(),
                    pdf["mask"].astype("int64").tolist(),
                    pdf["ck"].astype("int64").tolist(),
                )
            )
        wm_us = max(timerValues.getCurrentWatermarkInMs(), 0) * 1000
        yield from self._emit(key, self._advance(wm_us, new, force_all=False))

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        # timer ts >= buffered horizon + gap, so at expiry the watermark
        # has passed every buffered row: full flush (apws timed_out twin)
        wm_us = max(timerValues.getCurrentWatermarkInMs(), 0) * 1000
        yield from self._emit(key, self._advance(wm_us, [], force_all=True))

    def close(self) -> None:
        pass


def match_pattern_stream_tws(
    stream: DataFrame,
    pattern,
    watermark: str = "5 minutes",
    max_buffer_rows: int = 100_000,
    overflow_acc=None,
) -> DataFrame:
    """transformWithStateInPandas CEP path (needs protobuf — tws_available;
    the apws engine in streaming/cep.py is the in-sandbox fallback with
    identical semantics via the shared advance_nfa kernel)."""
    from parallel_dataflow_spark.streaming.cep import MATCH_SCHEMA, cep_prestage

    src = cep_prestage(stream, pattern).withWatermark("event_ts", watermark)
    return src.groupBy("doc_id").transformWithStateInPandas(
        statefulProcessor=CepPatternProcessor(
            pattern, max_buffer_rows=max_buffer_rows, overflow_acc=overflow_acc
        ),
        outputStructType=MATCH_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
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
# Third TWS processor: MapState + timer-driven purge (the remaining state
# primitive the ValueState accumulator and the ListState CEP buffer don't
# touch). Per-source token-quota enforcement over event-time windows —
# the streaming face of the graded curate_token_budget entry.
# ---------------------------------------------------------------------------

QUOTA_OUTPUT_SCHEMA = (
    "source string, window_start bigint, admitted_tok bigint, "
    "rejected_tok bigint, admitted_rows bigint, rejected_rows bigint"
)


class TokenQuotaProcessor(StatefulProcessor):
    """MapState + ListState quota enforcer, keyed by source.

    Semantics: sequences are admitted per event-time window while the
    window's cumulative RAW token total stays within ``budget``, in
    strict GLOBAL (event_ts, ck) order. To make that order independent
    of micro-batch boundaries (events arrive out of event-time order),
    rows are BUFFERED in a ListState until the watermark passes them —
    the CEP buffer discipline — and only then folded through the
    MapState window totals. Releases are monotone in the watermark, so
    the fold order over all released rows equals the batch twin's
    global sort for any batching (kill/resume differential caught the
    eager-admission variant flipping boundary rows between batchings).

    Raw totals (not admitted-only) are the state because they are a
    monotone counter: the admitted/rejected split at any prefix is then
    a pure function of the released prefix, independent of replay
    boundaries.

    State hygiene: windows whose end + ttl falls behind the watermark
    can never change — purged opportunistically and via ONE
    delete-then-register event-time timer that also drains the buffer
    for keys that stop receiving input (timer at the earliest
    actionable instant: min(buffered ts, purge horizon)). A dead
    source retains no buffer, no map entries, and no timer.

    Emits per batch one row per window TOUCHED by newly released rows,
    carrying the window's RUNNING totals — latest emission per
    (source, window) is final, which is what a keyed latest-wins
    upsert sink needs."""

    def __init__(self, budget: int, window_sec: int = 3600, ttl_sec: int = 3600):
        self._budget = int(budget)
        self._window_us = int(window_sec) * 1_000_000
        self._ttl_us = int(ttl_sec) * 1_000_000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._buf = handle.getListState(
            "quota_buffer", "ts bigint, n_tok bigint, ck bigint"
        )
        self._spent = handle.getMapState(
            "window_spent",
            "window_start bigint",
            "raw_tok bigint, adm_tok bigint, rej_tok bigint, "
            "adm_rows bigint, rej_rows bigint",
        )
        self._timer = handle.getValueState("quota_timer", "t bigint")

    def _advance(self, wm_us: int, new_rows: list):
        buf = [tuple(int(x) for x in r)
               for r in (self._buf.get() if self._buf.exists() else [])]
        buf.extend(new_rows)
        buf.sort(key=lambda r: (r[0], r[2]))
        release = [r for r in buf if r[0] <= wm_us]
        remain = [r for r in buf if r[0] > wm_us]

        touched: dict[int, list[int]] = {}
        for ts_us, n_tok, _ck in release:
            w = ts_us - ts_us % self._window_us
            if w in touched:
                st = touched[w]
            elif self._spent.exists() and self._spent.containsKey((w,)):
                st = [int(v) for v in self._spent.getValue((w,))]
                touched[w] = st
            else:
                st = touched.setdefault(w, [0, 0, 0, 0, 0])
            st[0] += n_tok
            if st[0] <= self._budget:
                st[1] += n_tok
                st[3] += 1
            else:
                st[2] += n_tok
                st[4] += 1
        for w, st in touched.items():
            self._spent.updateValue((w,), tuple(st))

        self._buf.clear()
        if remain:
            self._buf.put([tuple(r) for r in remain])

        # purge closed windows, then (re-)register ONE timer at the
        # earliest instant future work becomes actionable
        if self._spent.exists():
            dead = [
                int(k[0])
                for k in self._spent.keys()
                if int(k[0]) + self._window_us + self._ttl_us <= wm_us
            ]
            for k in dead:
                self._spent.removeKey((k,))
        live = (
            [int(k[0]) for k in self._spent.keys()]
            if self._spent.exists()
            else []
        )
        old = int(self._timer.get()[0]) if self._timer.exists() else None
        horizons = []
        if remain:
            horizons.append(min(r[0] for r in remain) // 1000 + 1)
        if live:
            horizons.append(
                (min(live) + self._window_us + self._ttl_us) // 1000 + 1
            )
        if horizons:
            t_ms = max(min(horizons), wm_us // 1000 + 1)
            if old != t_ms:
                if old is not None:
                    self._handle.deleteTimer(old)
                self._handle.registerTimer(t_ms)
                self._timer.update((t_ms,))
        else:
            if old is not None:
                self._handle.deleteTimer(old)
            self._timer.clear()
        return touched

    @staticmethod
    def _emit(key, touched):
        if touched:
            ws = sorted(touched)
            yield pd.DataFrame(
                {
                    "source": key[0],
                    "window_start": ws,
                    "admitted_tok": [touched[w][1] for w in ws],
                    "rejected_tok": [touched[w][2] for w in ws],
                    "admitted_rows": [touched[w][3] for w in ws],
                    "rejected_rows": [touched[w][4] for w in ws],
                }
            )

    def handleInputRows(self, key, rows, timerValues):
        new: list[tuple[int, int, int]] = []
        for pdf in rows:
            if pdf.empty:
                continue
            ts = pdf["event_ts"].astype("datetime64[us]").astype("int64")
            new.extend(
                zip(
                    ts.tolist(),
                    pdf["n_tok"].astype("int64").tolist(),
                    pdf["ck"].astype("int64").tolist(),
                )
            )
        wm_us = max(timerValues.getCurrentWatermarkInMs(), 0) * 1000
        yield from self._emit(key, self._advance(wm_us, new))

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        wm_us = max(timerValues.getCurrentWatermarkInMs(), 0) * 1000
        yield from self._emit(key, self._advance(wm_us, []))

    def close(self) -> None:
        pass


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


def token_quota_stream_tws(
    stream: DataFrame,
    budget: int,
    window_sec: int = 3600,
    ttl_sec: int = 3600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """transformWithStateInPandas quota path (needs protobuf —
    tws_available; TokenQuotaProcessor carries the semantics and is
    differential-tested against token_quota_batch on the handle
    double)."""
    src = quota_prestage(stream).withWatermark("event_ts", watermark)
    return src.groupBy("source").transformWithStateInPandas(
        statefulProcessor=TokenQuotaProcessor(budget, window_sec, ttl_sec),
        outputStructType=QUOTA_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="eventTime",
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
    api: str = "auto",
) -> DataFrame:
    """Quota enforcement with API fallback, mirroring
    running_doc_stats_stream: 'tws' = transformWithStateInPandas
    (TokenQuotaProcessor), 'apws' = applyInPandasWithState with the SAME
    buffered-release semantics (buffer + MapState become parallel arrays
    in the single apws state tuple; EventTimeTimeout replaces the
    registered timer). Emissions carry RUNNING per-window totals —
    latest emission per (source, window) = final, upsert-sink-safe."""
    if api == "auto":
        api = "tws" if tws_available() else "apws"
    if api == "tws":
        return token_quota_stream_tws(
            stream, budget, window_sec, ttl_sec, watermark
        )

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
