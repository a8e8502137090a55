"""NFA-style CEP over the token-sequence stream (north rule; SURVEY.md §2.2).

Pattern model: an ordered list of steps; each step is a set of token ids.
A row (one sequence arrival) satisfies a step if its token array contains
any of the step's tokens (``arrays_overlap`` in the JVM pre-stage,
``cep_prestage``). A match is rows r1 < r2 < ... < rk in event-time
order, one per step, consecutive rows within ``gap_seconds``.
Skip-till-next-match semantics; overlapping starts allowed up to
``max_partials`` per doc.

Determinism under micro-batching: rows are buffered in state and released
through the NFA only once the event-time watermark passes them, per doc in
strict (event_ts, checksum) order — so the match set is independent of how
the stream is chopped into batches or partitioned across executors. This
is the streaming re-expression of the reference's
confluence-under-scheduling property (any worklist order → same fixpoint,
impls/src/bin/test.rs:21-70).

State is held in ``applyInPandasWithState`` (checkpoint-backed state store)
with an event-time timeout to flush the tail when the stream ends. It is
keyed by key group, ``pmod(xxhash64(doc_id), KEY_GROUPS)``, not by doc:
each group's state holds the per-doc buffers and partial matches of all
its docs, so a micro-batch costs at most ``KEY_GROUPS`` kernel calls
however many docs it touches (the key groups of Flink's state backend).
The NFA still runs per doc, so the output is the same as per-doc state.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Part of the checkpointed state layout: a checkpoint written with another
# value maps docs to other groups and cannot be resumed.
KEY_GROUPS = 64


@dataclass(frozen=True)
class Pattern:
    steps: tuple[frozenset, ...]  # each: frozenset of token ids
    gap_seconds: int
    max_partials: int = 64

    @staticmethod
    def of(steps: list[list[int]], gap_seconds: int) -> "Pattern":
        return Pattern(tuple(frozenset(s) for s in steps), gap_seconds)


MATCH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("match_start_ts", T.LongType()),  # epoch micros
        T.StructField("match_end_ts", T.LongType()),
        T.StructField("n_steps", T.IntegerType()),
    ]
)

# One state row per key group: buffered rows and partial matches of all its
# docs as parallel arrays (buf_* one entry per row, p_* one per partial).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("buf_doc", T.ArrayType(T.StringType())),
        T.StructField("buf_ts", T.ArrayType(T.LongType())),    # epoch micros
        T.StructField("buf_mask", T.ArrayType(T.IntegerType())),
        T.StructField("buf_ck", T.ArrayType(T.LongType())),    # _ck_col(tokens)
        T.StructField("p_doc", T.ArrayType(T.StringType())),
        T.StructField("p_state", T.ArrayType(T.IntegerType())),
        T.StructField("p_start", T.ArrayType(T.LongType())),
        T.StructField("p_last", T.ArrayType(T.LongType())),
    ]
)


def _ck_col(tokens) -> F.Column:
    """Deterministic per-row checksum used ONLY as the tie-break for
    same-timestamp rows in the NFA release order. Cross-engine 60-bit md5
    of the comma-joined token array (functions.text.md5_60bit), so the
    DuckDB oracle for the CEP entries replays the exact release order
    (xxhash64 would not be SQL-reproducible)."""
    from parallel_dataflow_spark.functions.text import md5_60bit

    return md5_60bit(F.concat_ws(",", tokens.cast("array<string>")))


def cep_prestage(df: DataFrame, pattern: Pattern) -> DataFrame:
    """JVM-side pre-stage of every CEP path (stream, TWS, batch twin): per
    row, the NFA step bitmask (bit i set iff tokens ∩ step_i ≠ ∅ —
    arrays_overlap against the step's literal id set) and the cross-engine
    release-order checksum. Token arrays die here, before any exchange;
    the stateful stage sees 3 small numerics. Each step's id set is one SQL
    array literal (one py4j call, not one per id)."""
    mask = F.lit(0)
    for i, step in enumerate(pattern.steps):
        ids = ", ".join(str(int(t)) for t in sorted(step))
        step_arr = F.expr(f"array({ids})").cast("array<bigint>")
        mask = mask + F.when(
            F.arrays_overlap(F.col("tokens").cast("array<bigint>"), step_arr),
            F.lit(1 << i),
        ).otherwise(F.lit(0))
    return df.select(
        "doc_id",
        "event_ts",
        mask.cast("int").alias("mask"),
        _ck_col(F.col("tokens")).alias("ck"),
    )


def row_step_mask(tokens_series: pd.Series, pattern: Pattern) -> np.ndarray:
    """Numpy twin of ``cep_prestage``'s mask: bit i set if the row satisfies
    step i. No query path uses it; it is the golden the pre-stage is
    checked against."""
    n = len(tokens_series)
    mask = np.zeros(n, dtype=np.int32)
    arrs = [np.asarray(a, dtype=np.int64) for a in tokens_series]
    for i, step in enumerate(pattern.steps):
        step_arr = np.fromiter(step, dtype=np.int64)
        hit = np.fromiter(
            (np.isin(a, step_arr, assume_unique=False).any() if a.size else False for a in arrs),
            dtype=bool,
            count=n,
        )
        mask |= hit.astype(np.int32) << i
    return mask


def _epoch_us(event_ts: pd.Series) -> np.ndarray:
    return event_ts.astype("datetime64[us]").astype(np.int64).to_numpy()


def advance_nfa(
    pattern: Pattern,
    released_ts: np.ndarray,
    released_mask: np.ndarray,
    p_state: list[int],
    p_start: list[int],
    p_last: list[int],
) -> list[tuple[int, int, int]]:
    """Feed released rows (sorted by ts) through the NFA, mutating the
    partial-match lists in place. Returns completed matches
    (start_ts, end_ts, n_steps). Pure function of its inputs — shared by
    the streaming kernel and the batch reference twin."""
    gap_us = pattern.gap_seconds * 1_000_000
    n_steps = len(pattern.steps)
    matches: list[tuple[int, int, int]] = []
    for ts, mask in zip(released_ts.tolist(), released_mask.tolist()):
        # expire stale partials first (gap exceeded)
        keep = [j for j in range(len(p_state)) if ts - p_last[j] <= gap_us]
        if len(keep) != len(p_state):
            p_state[:] = [p_state[j] for j in keep]
            p_start[:] = [p_start[j] for j in keep]
            p_last[:] = [p_last[j] for j in keep]
        # advance existing partials (oldest first)
        completed = []
        for j in range(len(p_state)):
            if mask >> p_state[j] & 1:
                p_state[j] += 1
                p_last[j] = ts
                if p_state[j] == n_steps:
                    matches.append((p_start[j], ts, n_steps))
                    completed.append(j)
        for j in reversed(completed):
            del p_state[j], p_start[j], p_last[j]
        # start a new partial
        if (mask & 1) and len(p_state) < pattern.max_partials:
            if n_steps == 1:
                matches.append((ts, ts, 1))
            else:
                p_state.append(1)
                p_start.append(ts)
                p_last.append(ts)
    return matches


def match_pattern_batch(df: DataFrame, pattern: Pattern) -> DataFrame:
    """Batch twin: same NFA over a static DataFrame via applyInPandas —
    the runtime-golden for differential tests (the role the sequential
    executor plays in the reference)."""

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["event_ts", "ck"], kind="mergesort")
        matches = advance_nfa(
            pattern, _epoch_us(pdf["event_ts"]), pdf["mask"].to_numpy(np.int32), [], [], []
        )
        return pd.DataFrame(
            [(pdf["doc_id"].iloc[0], *m) for m in matches], columns=MATCH_SCHEMA.fieldNames()
        )

    return cep_prestage(df, pattern).groupBy("doc_id").applyInPandas(per_doc, schema=MATCH_SCHEMA)


def match_pattern_stream(
    stream: DataFrame,
    pattern: Pattern,
    watermark: str = "5 minutes",
    max_buffer_rows: int = 100_000,
    overflow_acc=None,
) -> DataFrame:
    """Streaming NFA: state per key group, per-doc buffer-until-watermark
    release, event-time timeout flush.

    Exactness of key groups: a kernel call releases, per doc, the buffered
    rows at or behind the current watermark, whichever doc of the group
    triggered the call. applyInPandasWithState with EventTimeTimeout drops
    input rows behind the watermark of the previous batch before the
    kernel sees them, and every row released so far is at or behind that
    watermark, so each doc's released rows still form one (event_ts,
    checksum)-ordered sequence — the same NFA input as per-doc state.

    ``max_buffer_rows`` bounds per-doc state: if a doc's buffer would
    exceed it (hot key + stalled watermark), the OLDEST overflow rows are
    released through the NFA early, in the same (event_ts, checksum)
    order. For those rows the batching-independence guarantee weakens to
    arrival-order determinism (a straggler older than an early-released
    row would be sequenced after it) — the documented trade for bounded
    state on pathological keys; rows behind the watermark are never
    affected.

    ``overflow_acc``: optional Spark accumulator (sc.accumulator(0));
    incremented by the number of rows released EARLY whenever the bound
    trips, so the determinism degradation is observable (asserted in
    tests/test_cep.py; surfaced post-run by streaming/jobs + the JSONL
    metrics log as cep_overflow_rows)."""
    gap_us = pattern.gap_seconds * 1_000_000

    def kernel(key, pdf_iter, state):
        b_doc, b_ts, b_mask, b_ck, p_doc, p_state, p_start, p_last = (
            state.get if state.exists else ([],) * 8
        )
        frames = [pdf for pdf in pdf_iter if not pdf.empty]
        doc = np.concatenate(
            [np.asarray(b_doc, dtype=object)] + [f["doc_id"].to_numpy(object) for f in frames]
        )
        ts = np.concatenate(
            [np.asarray(b_ts, dtype=np.int64)] + [_epoch_us(f["event_ts"]) for f in frames]
        )
        mask = np.concatenate(
            [np.asarray(b_mask, dtype=np.int32)] + [f["mask"].to_numpy(np.int32) for f in frames]
        )
        ck = np.concatenate(
            [np.asarray(b_ck, dtype=np.int64)] + [f["ck"].to_numpy(np.int64) for f in frames]
        )
        wm_us = state.getCurrentWatermarkMs() * 1000

        # partials per doc, oldest first (the order advance_nfa advances in)
        partials: dict[str, tuple[list, list, list]] = {}
        for d, s, a, last in zip(p_doc, p_state, p_start, p_last):
            part = partials.setdefault(d, ([], [], []))
            part[0].append(s)
            part[1].append(a)
            part[2].append(last)

        # per doc, strict (event_ts, checksum) release order — the same
        # tie-break the batch twin sorts by
        codes, docs = pd.factorize(doc)
        order = np.lexsort((ck, ts, codes))
        codes, ts, mask, ck = codes[order], ts[order], mask[order], ck[order]
        starts = np.flatnonzero(np.diff(codes, prepend=-1))
        ends = np.append(starts[1:], len(codes))
        keep = np.ones(len(ts), dtype=bool)
        horizon: dict[str, int] = {}  # per doc: newest buffered ts / p_last
        matches = []
        for lo, hi in zip(starts.tolist(), ends.tolist()):
            d = docs[codes[lo]]
            n_rel = int(np.searchsorted(ts[lo:hi], wm_us, side="right"))
            # bounded-state fallback: also release the oldest overflow, so
            # the retained rows are the newest max_buffer_rows
            overflow = hi - lo - n_rel - max_buffer_rows
            if overflow > 0:
                n_rel += overflow
                if overflow_acc is not None:
                    overflow_acc.add(overflow)
            if n_rel:
                keep[lo : lo + n_rel] = False
                part = partials.setdefault(d, ([], [], []))
                rel = slice(lo, lo + n_rel)
                matches.extend((d, *m) for m in advance_nfa(pattern, ts[rel], mask[rel], *part))
            if n_rel < hi - lo:
                horizon[d] = int(ts[hi - 1])

        # prune partials no future row can extend: rows still to come have
        # ts > wm, and extension requires ts - p_last <= gap, so a partial
        # with wm - p_last > gap is dead. Without this, a group holding a
        # leftover partial keeps its state and re-registers a wm+1 timeout
        # forever — unbounded state + a timer firing every watermark advance.
        p_doc, p_state, p_start, p_last = [], [], [], []
        for d, (st, sa, sl) in partials.items():
            for s, a, last in zip(st, sa, sl):
                if wm_us - last <= gap_us:
                    p_doc.append(d)
                    p_state.append(s)
                    p_start.append(a)
                    p_last.append(last)
                    horizon[d] = max(horizon.get(d, last), last)

        if not horizon:
            state.remove()
        else:
            state.update(
                (
                    docs[codes[keep]].tolist(),
                    ts[keep].tolist(),
                    mask[keep].tolist(),
                    ck[keep].tolist(),
                    p_doc,
                    p_state,
                    p_start,
                    p_last,
                )
            )
            # wake up once the watermark has passed the earliest doc's
            # horizon by the gap (timeout must not be below the watermark)
            state.setTimeoutTimestamp(
                max(
                    min(horizon.values()) // 1000 + pattern.gap_seconds * 1000 + 1,
                    state.getCurrentWatermarkMs() + 1,
                )
            )

        if matches:
            yield pd.DataFrame(matches, columns=MATCH_SCHEMA.fieldNames())

    return (
        cep_prestage(stream, pattern)
        .withColumn("key_group", F.pmod(F.xxhash64("doc_id"), F.lit(KEY_GROUPS)))
        .withWatermark("event_ts", watermark)
        .groupBy("key_group")
        .applyInPandasWithState(
            kernel,
            outputStructType=MATCH_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
