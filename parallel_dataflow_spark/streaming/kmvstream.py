"""Streaming KMV bottom-k vocabulary sketches per (source, event-time
window).

The batch entry (``corpus_overlap_kmv``) answers "how much vocabulary do
two sources share?" with one corpus pass; this module is its streaming
face: every (source, window) keeps the K smallest distinct md5_60bit
token hashes as keyed state, so per-window source cardinalities and ALL
pairwise source overlaps are constant-time reads of the sink table — no
reprocessing, no per-pair corpus scans.

Why this fold is the easy case of the repo's stateful discipline: the
bottom-K of a set is ORDER-INVARIANT — merging micro-batches in any
order, with any split, converges to the same final sketch (union +
re-rank, the kmv_sketch mergeability argument run incrementally). So no
buffered-release machinery (spandedup) is needed: running emissions of
the current sketch through the latest-wins keyed sink are monotone
(each emission's sketch dominates the last) and the FINAL emission per
key equals the batch twin exactly — full-run == kill/resume == batch,
byte for byte.

Scale shape: token arrays die in the JVM prestage (the stateful
exchange carries fixed-width (source, window_start, h, event_ts) rows);
per-key state is ONE array of ≤ KMV_K int64s — constant regardless of
how many distinct tokens the window saw (the HLL-register argument
applied to an order-statistics sketch); a (source, window) that stops
arriving purges on an event-time timeout once the watermark passes
window end + ttl. The one cost a batch pass does not pay: every token
INSTANCE crosses the stateful exchange (streaming offers no pre-state
map-side distinct) — the rows are 3 ints + a short string, and the
alternative (a distinct store) is unbounded state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parallel_dataflow_spark.functions.text import md5_60bit
from parallel_dataflow_spark.operators.sketches import KMV_K

KMV_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("window_start", T.LongType(), False),
        T.StructField("hs", T.ArrayType(T.LongType(), False), False),
        T.StructField("sketch_size", T.LongType(), False),
    ]
)

_STATE_SCHEMA = "hs array<bigint>"


def kmv_prestage(df: DataFrame, window_sec: int = 600) -> DataFrame:
    """JVM-side prestage: explode tokens to (source, window_start, h,
    event_ts). The token array dies here; h is the same md5_60bit the
    batch kmv_sketch uses, so stream and batch sketches are comparable
    hash-for-hash."""
    epoch = F.col("event_ts").cast("timestamp_ltz").cast("long")
    ws = (F.floor(epoch / window_sec) * window_sec).cast("long")
    return df.select(
        "source",
        ws.alias("window_start"),
        F.explode(
            F.transform(F.col("tokens"), lambda t: md5_60bit(t.cast("string")))
        ).alias("h"),
        "event_ts",
    )


def _merge_bottomk(hs: list[int], new: list[int]) -> list[int]:
    """Union + re-rank: the KMV merge rule, exact and order-invariant."""
    return sorted(set(hs).union(new))[:KMV_K]


def kmv_stream(
    stream: DataFrame,
    window_sec: int = 600,
    ttl_sec: int = 600,
    watermark: str = "5 minutes",
) -> DataFrame:
    """Streaming per-(source, window) bottom-K sketch: state is the
    sketch array, merged by union + re-rank; an EventTimeTimeout at
    window end + ttl removes it (past that horizon the state could only
    re-derive the final emission, so the timeout emits nothing)."""
    src = kmv_prestage(stream, window_sec).withWatermark("event_ts", watermark)
    horizon_ms = (int(window_sec) + int(ttl_sec)) * 1000

    def kernel(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        old = None
        if state.exists:
            (hs,) = state.get
            old = [int(x) for x in hs]
        new: list[int] = []
        for pdf in pdf_iter:
            if not pdf.empty:
                new.extend(int(x) for x in pdf["h"].tolist())
        merged = _merge_bottomk(old or [], new)
        state.update((merged,))
        wm_ms = max(state.getCurrentWatermarkMs(), 0)
        state.setTimeoutTimestamp(
            max(int(key[1]) * 1000 + horizon_ms, wm_ms + 1)
        )
        if merged != (old or []):
            yield pd.DataFrame(
                {
                    "source": [str(key[0])],
                    "window_start": [int(key[1])],
                    "hs": [merged],
                    "sketch_size": [len(merged)],
                }
            )

    return src.groupBy("source", "window_start").applyInPandasWithState(
        kernel,
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def kmv_window_batch(df: DataFrame, window_sec: int = 600) -> DataFrame:
    """Batch twin (the differential golden): exact per-(source, window)
    bottom-K over the same prestage hashes — distinct + ranked window
    (WindowGroupLimit caps map partitions at K rows) + sorted array."""
    from pyspark.sql import Window

    src = kmv_prestage(df, window_sec).select("source", "window_start", "h")
    distinct = src.dropDuplicates(["source", "window_start", "h"])
    win = Window.partitionBy("source", "window_start").orderBy("h")
    ranked = distinct.withColumn("rk", F.row_number().over(win)).filter(
        F.col("rk") <= KMV_K
    )
    return ranked.groupBy("source", "window_start").agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.count("*").cast("long").alias("sketch_size"),
    )


def kmv_window_report(sink_rows: DataFrame) -> DataFrame:
    """Per-window pairwise source Jaccard from the sink table alone:
    explode the ≤K-element sketch arrays and run the grouped
    unioned-sketch estimator — constant work per (window, pair), the
    stream never re-runs."""
    from parallel_dataflow_spark.operators.sketches import kmv_pair_jaccard

    rows = sink_rows.select(
        "window_start", "source", F.explode("hs").alias("h")
    )
    return kmv_pair_jaccard(rows, "source", group_cols=("window_start",))


def kmv_rollup(sink_rows: DataFrame, grain_seconds: int = 3600) -> DataFrame:
    """Coarsen (source, window_start, hs) sketches to a larger grain by
    union + re-rank — the order-statistics rollup law beside hll_rollup's
    max-merge and cms_rollup's sum: any element among the K smallest of a
    coarse window is among the K smallest of its own fine window, so
    re-ranking the exploded fine sketches is EXACTLY the sketch a direct
    coarse-window pass would build. Input is sketch-bounded (≤ K rows per
    fine key), never the stream."""
    from pyspark.sql import Window

    coarse = (F.col("window_start") / grain_seconds).cast("long") * grain_seconds
    rows = sink_rows.select(
        "source", coarse.alias("window_start"), F.explode("hs").alias("h")
    ).dropDuplicates(["source", "window_start", "h"])
    win = Window.partitionBy("source", "window_start").orderBy("h")
    ranked = rows.withColumn("rk", F.row_number().over(win)).filter(
        F.col("rk") <= KMV_K
    )
    return ranked.groupBy("source", "window_start").agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.count("*").cast("long").alias("sketch_size"),
    )
