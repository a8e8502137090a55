"""End-to-end streaming jobs: source → salted repartition → windowed agg /
CEP → idempotent exactly-once sink, with checkpointing and metrics.

These are the deployable units (spark-submit --py-files); tests and bench
drive them over the deterministic generated sequence table.

A deployable shaped "sequence source → plan → keyed sink" is one
``StreamJob`` row of ``STREAM_JOBS``: its sink key columns, its output
mode and its plan ``build(spark, input_dir, read, **params)``, whose
parameter defaults sit in its own signature. ``read(path)`` returns the
sequence frame at ``path``: a micro-batch stream under ``run`` and the
table at rest under ``golden``, so one plan is both the deployable and
its batch differential golden (Spark drops ``withWatermark`` from batch
plans). ``JOBS`` and the CLI's ``stream --job`` list follow from the
table. To add a deployable, add its build and one row; write a runner
of its own on ``_start`` only when the job needs more than one sink
(``run_matview_job``), a per-batch fold (``run_neardup_job``) or an
argument the CLI cannot supply (``run_cep_job``'s Pattern).
"""

from __future__ import annotations

import functools
import os
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from parallel_dataflow_spark.sources.sequences import (
    read_sequence_stream,
    read_sequence_table,
)
from parallel_dataflow_spark.streaming import windows as W
from parallel_dataflow_spark.streaming.cep import Pattern, match_pattern_stream
from parallel_dataflow_spark.streaming.sink import IdempotentKeyedSink


class IcebergUnavailable(RuntimeError):
    """An Iceberg sink was asked for on a session without the Iceberg
    runtime."""


def make_sink(
    spark: SparkSession,
    work_dir: str,
    key_cols: list[str],
    iceberg_table: str | None = None,
):
    """Sink selection for the deployable jobs: the north rule's
    production sink is an Iceberg MERGE upsert (exactly-once via a
    committed-batch ledger, streaming/iceberg_sink.py); the default is the
    keyed idempotent parquet-epoch sink under ``<work_dir>/sink`` (same
    duck-typed protocol, same exactly-once argument). Asking for
    ``iceberg_table`` on a session without the Iceberg runtime raises
    IcebergUnavailable rather than writing parquet in its place."""
    if iceberg_table is None:
        return IdempotentKeyedSink(
            os.path.join(work_dir, "sink"), key_cols=key_cols
        )
    from parallel_dataflow_spark.streaming.iceberg_sink import (
        IcebergMergeSink,
        iceberg_available,
    )

    if not iceberg_available(spark):
        raise IcebergUnavailable(
            f"iceberg_table={iceberg_table!r}: this session has no Iceberg "
            "runtime (iceberg-spark-runtime jar and SQL extensions)"
        )
    return IcebergMergeSink(iceberg_table, key_cols)


def _start(
    df: DataFrame, output_mode: str, work_dir: str, write_batch
) -> StreamingQuery:
    """Start ``df`` into ``write_batch`` through foreachBatch, checkpointed
    at ``<work_dir>/checkpoint`` — the one place a deployable's checkpoint
    layout is decided."""
    return (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(work_dir, "checkpoint"))
        .start()
    )


class StreamJob(NamedTuple):
    """One table-driven deployable: the sink's key columns, the output
    mode, and the plan ``build(spark, input_dir, read, **params)``."""

    key_cols: tuple[str, ...]
    output_mode: str
    build: Callable[..., DataFrame]
    max_files_per_trigger: int = 2


def run(
    name: str,
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    max_files_per_trigger: int | None = None,
    iceberg_table: str | None = None,
    **params,
) -> tuple[StreamingQuery, IdempotentKeyedSink]:
    """Start deployable ``name`` over the sequence stream at ``input_dir``
    into its keyed sink (Iceberg MERGE when ``iceberg_table`` is given —
    make_sink), checkpointed under ``work_dir``. ``params`` go to the
    job's build; ``max_files_per_trigger`` defaults to the job's own."""
    job = STREAM_JOBS[name]
    if max_files_per_trigger is None:
        max_files_per_trigger = job.max_files_per_trigger
    sink = make_sink(spark, work_dir, list(job.key_cols), iceberg_table)

    def read(path: str) -> DataFrame:
        return read_sequence_stream(spark, path, max_files_per_trigger)

    df = job.build(spark, input_dir, read, **params)
    return _start(df, job.output_mode, work_dir, sink.foreach_batch()), sink


def golden(name: str, spark: SparkSession, input_dir: str, **params) -> DataFrame:
    """Deployable ``name``'s plan over the sequence table at rest: the
    batch golden its drained sink must equal. The keyed-state jobs
    (quota, spandedup, kmv) have none — Spark refuses
    applyInPandasWithState in a batch query — so their independent batch
    twins sit next to their kernels (token_quota_batch, span_dedup_batch,
    kmv_window_batch)."""
    return STREAM_JOBS[name].build(
        spark, input_dir, lambda path: read_sequence_table(spark, path), **params
    )


def _tumbling_plan(
    spark, input_dir, read, window="10 minutes", watermark="5 minutes",
    salt_buckets=8,
) -> DataFrame:
    """The flagship exactly-once job: per-(doc_id, window) token stats,
    update-mode upserts into the sink keyed (doc_id, window_start)."""
    stream = W.salted_repartition(read(input_dir), "doc_id", salt_buckets)
    return W.tumbling_doc_stats(stream, window=window, watermark=watermark)


def _sliding_plan(
    spark, input_dir, read, window="10 minutes", slide="5 minutes",
    watermark="5 minutes",
) -> DataFrame:
    """Sliding-window twin of the tumbling job (the north rule names all
    three window types): per-(source, sliding window) throughput stats,
    update-mode upserts into the sink keyed (source, window_start). No
    salted repartition — the source cardinality is tiny and each event
    lands in window/slide overlapping windows, so the agg fan-out (not key
    skew) dominates."""
    return W.sliding_source_stats(
        read(input_dir), window=window, slide=slide, watermark=watermark
    )


def _session_plan(
    spark, input_dir, read, gap="5 minutes", watermark="5 minutes"
) -> DataFrame:
    """Session windows must finalize → append mode; sink keyed by
    (doc_id, session_start)."""
    return W.session_doc_stats(read(input_dir), gap=gap, watermark=watermark)


def run_cep_job(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    pattern: Pattern,
    watermark: str = "5 minutes",
    max_files_per_trigger: int = 2,
    max_buffer_rows: int = 100_000,
    overflow_acc=None,
    iceberg_table: str | None = None,
) -> tuple[StreamingQuery, IdempotentKeyedSink]:
    sink = make_sink(
        spark, work_dir, ["doc_id", "match_start_ts", "match_end_ts"], iceberg_table
    )
    stream = read_sequence_stream(spark, input_dir, max_files_per_trigger)
    matches = match_pattern_stream(
        stream,
        pattern,
        watermark=watermark,
        max_buffer_rows=max_buffer_rows,
        overflow_acc=overflow_acc,
    )
    return _start(matches, "append", work_dir, sink.foreach_batch()), sink


def _join_plan(
    spark, input_dir, read, input_dir_right=None, watermark="10 minutes",
    max_delay="5 minutes",
) -> DataFrame:
    """Stateful stream-stream join deployable (north rule): two watermarked
    sequence streams (raw vs re-tokenized feeds; ``input_dir_right``
    defaults to the same directory = self-join shape) inner-joined on
    doc_id within ``max_delay``, append-mode into the sink keyed
    (doc_id, left_ts, right_ts, left_ck, right_ck) — the per-side token
    checksums are part of the key because hot doc_ids emit several
    sequences in the same second, so timestamps alone are not a unique
    pair id and an upsert on them would silently drop join rows. Both
    sides carry watermarks so Spark evicts join state older than
    watermark+interval — bounded state on an unbounded stream. The join
    shuffles BOTH sides by doc_id; token payloads do ride this exchange
    (the join verifies token-checksum equality), which is the inherent
    cost of a content-comparing join."""
    return W.stream_stream_token_join(
        read(input_dir),
        read(input_dir_right or input_dir),
        watermark=watermark,
        max_delay=max_delay,
        include_checksums=True,
    )


def _dedup_plan(spark, input_dir, read, watermark="2 hours") -> DataFrame:
    """Streaming exact deduplication: first occurrence of each
    (doc_id, content-fingerprint) wins; replays/retries of the same
    sequence are dropped. Built on dropDuplicatesWithinWatermark, so the
    dedup state store holds keys only until the watermark passes their
    event time — BOUNDED state, unlike plain dropDuplicates whose state
    grows with the key universe forever (fatal on an unbounded 10^12
    -sequence stream). The guarantee is correspondingly within-watermark:
    a duplicate arriving later than ``watermark`` after the original is
    re-emitted, which downstream exactly-once sinks absorb (same keyed
    upsert).

    Scale shape: the fingerprint (xxhash64 over doc_id + token array) is
    computed MAP-SIDE and the token payload is projected away before the
    dedup exchange — the stateful shuffle carries only
    (doc_id, fingerprint, n_tok, source, event_ts), ~30 bytes/row instead
    of the ~2 KB token arrays."""
    return (
        read(input_dir)
        .withColumn("fingerprint", F.xxhash64("doc_id", "tokens"))
        .select("doc_id", "fingerprint", "source", "n_tok", "event_ts")
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["doc_id", "fingerprint"])
    )


def _throughput_plan(
    spark, input_dir, read, window="10 minutes", watermark="5 minutes",
    salt_buckets=8,
) -> DataFrame:
    """The bench flagship: token featurization (Arrow-vectorized numpy per
    batch: top-token via bincount + positional checksum) → salted
    repartition → tumbling per-(doc_id, window) agg → exactly-once sink.
    The featurization stage is the representative 'token-array work' of a
    training-data pipeline; it runs in Python workers and scales with
    cores, while the window agg exercises shuffle + state."""
    import numpy as np
    import pandas as pd
    def featurize(batches):
        # Representative token-array work per sequence: top-token via
        # bincount + order-sensitive positional checksum. Arrow-batched
        # (never row-at-a-time *Python objects* — each row is one numpy
        # kernel call on the Arrow-backed array). Deliberately
        # interpreter-+compute-bound rather than materializing giant
        # flattened temporaries: small per-row arrays stay in L1/L2, so
        # this shape scales near-linearly with cores, where a fully
        # flattened variant saturates DRAM bandwidth and stops scaling
        # beyond ~8 cores (measured on this box; see BENCH/BASELINE.md).
        for pdf in batches:
            if pdf.empty:
                continue
            n = len(pdf)
            top = np.empty(n, dtype=np.int64)
            ck = np.empty(n, dtype=np.int64)
            for i, arr in enumerate(pdf["tokens"]):
                a = np.asarray(arr, dtype=np.int64)
                if a.size:
                    top[i] = np.bincount(a).argmax()
                    w = np.arange(1, a.size + 1, dtype=np.int64)
                    ck[i] = int((a * w).sum() % (1 << 40))
                else:
                    top[i] = -1
                    ck[i] = 0
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok": pdf["n_tok"],
                    "event_ts": pdf["event_ts"],
                    "top_token": top,
                    "feat_checksum": ck,
                }
            )

    # featurize MAP-SIDE, before any shuffle: the token payload (the bulk of
    # the bytes) never crosses the exchange — only the small featurized rows
    # do. At 100 TB this is the difference between shuffling terabytes and
    # shuffling gigabytes.
    feat = read(input_dir).mapInPandas(
        featurize,
        schema="doc_id string, n_tok int, event_ts timestamp, top_token long, feat_checksum long",
    )
    # explicit salted spread of hot doc_ids over reducers (north rule);
    # salt is deterministic (checksum-derived) so replays land identically
    feat = feat.withColumn(
        "__salt", F.pmod(F.col("feat_checksum"), F.lit(salt_buckets))
    )
    feat = feat.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        F.hash(F.col("doc_id")),
        F.col("__salt"),
    ).drop("__salt")
    return (
        feat.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"), "doc_id")
        .agg(
            F.count("*").alias("n_seqs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum("feat_checksum").cast("long").alias("feat_checksum"),
            F.min("top_token").alias("min_top"),
            F.max("top_token").alias("max_top"),
        )
        .select(
            "doc_id",
            F.col("w.start").alias("window_start"),
            "n_seqs",
            "total_tokens",
            "feat_checksum",
            "min_top",
            "max_top",
        )
    )


def _pipeline_plan(
    spark, input_dir, read, window="10 minutes", watermark="2 hours",
    min_tok=8, max_tok=480,
) -> DataFrame:
    """The end-to-end training-data ingestion pipeline as ONE deployable
    stream — the north star's composition, each stage individually
    verified elsewhere:

      sequence stream
        → map-side fingerprint + length-gate (quality filter: sequences
          outside [min_tok, max_tok] dropped scan-side, token arrays
          projected away BEFORE any stateful exchange)
        → streaming exact dedup (dropDuplicatesWithinWatermark — bounded
          state, the dedup job's shape)
        → tumbling per-(source, window) admission stats
        → exactly-once keyed sink (Iceberg MERGE when available).

    Output = per (source, window_start): sequences admitted, tokens
    admitted — the bookkeeping table a 10^12-sequence ingestion run
    publishes. Stage order matters at scale: the cheap stateless gate
    runs first (scan-side, no state), dedup sees only survivors (smaller
    key store), the agg sees only uniques.

    Two stateful operators chained (dedup → windowed agg) requires
    APPEND mode (Spark's multi-stateful-operator condition), so a
    (source, window) row emits exactly once, when the watermark passes
    the window end. Watermark subtlety worth knowing at deploy time:
    although ``withWatermark`` is declared before the gate, Catalyst
    PUSHES deterministic non-event-time predicates below the
    EventTimeWatermark node (and into the scan), so gated-out rows do
    NOT advance event time — a probe row meant to drain the window tail
    must PASS the gate (tests use a far-future sentinel with an
    identifiable source)."""
    gated = (
        read(input_dir)
        .withColumn("fingerprint", F.xxhash64("doc_id", "tokens"))
        .withWatermark("event_ts", watermark)
        .filter((F.col("n_tok") >= min_tok) & (F.col("n_tok") <= max_tok))
        .select("doc_id", "fingerprint", "source", "n_tok", "event_ts")
    )
    uniq = gated.dropDuplicatesWithinWatermark(["doc_id", "fingerprint"])
    return (
        uniq.groupBy(F.window("event_ts", window).alias("w"), "source")
        .agg(
            F.count("*").alias("n_admitted"),
            F.sum("n_tok").cast("long").alias("tokens_admitted"),
        )
        .select(
            "source",
            F.col("w.start").alias("window_start"),
            "n_admitted",
            "tokens_admitted",
        )
    )


def run_neardup_job(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    threshold: float = 0.7,
    watermark: str = "10 minutes",
    rep_ttl_ms: int = 3_600_000,
    max_files_per_trigger: int = 2,
    iceberg_table: str | None = None,
) -> tuple[StreamingQuery, IdempotentKeyedSink]:
    """Streaming NEAR-duplicate flagging (streaming/neardup.py): every
    arriving sequence verdicted against earlier arrivals via banded
    minhash bucket owners + exact-Jaccard verification, per-doc fold
    batch-local in foreachBatch (a sequence's band rows share its
    micro-batch), exactly-once sink keyed (doc_id, event_ts, ck). The
    online complement of the batch dedup_minhash_lsh pair finder."""
    from parallel_dataflow_spark.streaming.neardup import (
        fold_verdicts,
        neardup_verdicts_stream,
    )

    sink = make_sink(spark, work_dir, ["doc_id", "event_ts", "ck"], iceberg_table)
    stream = read_sequence_stream(spark, input_dir, max_files_per_trigger)
    verdicts = neardup_verdicts_stream(
        stream, watermark=watermark, rep_ttl_ms=rep_ttl_ms
    )
    inner = sink.foreach_batch()

    def write_batch(df: DataFrame, batch_id: int) -> None:
        inner(fold_verdicts(df, threshold), batch_id)

    return _start(verdicts, "append", work_dir, write_batch), sink


def batch_pipeline_golden(
    spark: SparkSession,
    input_dir: str,
    window: str = "10 minutes",
    min_tok: int = 8,
    max_tok: int = 480,
) -> DataFrame:
    """Batch twin of the pipeline job (gate → distinct → window agg),
    written apart from its plan: batch dropDuplicates in place of the
    streaming dropDuplicatesWithinWatermark."""
    d = (
        read_sequence_table(spark, input_dir)
        .withColumn("fingerprint", F.xxhash64("doc_id", "tokens"))
        .filter((F.col("n_tok") >= min_tok) & (F.col("n_tok") <= max_tok))
        .select("doc_id", "fingerprint", "source", "n_tok", "event_ts")
        .dropDuplicates(["doc_id", "fingerprint"])
    )
    return (
        d.groupBy(F.window("event_ts", window).alias("w"), "source")
        .agg(
            F.count("*").alias("n_admitted"),
            F.sum("n_tok").cast("long").alias("tokens_admitted"),
        )
        .select(
            "source",
            F.col("w.start").alias("window_start"),
            "n_admitted",
            "tokens_admitted",
        )
    )


def _bucket_hist_kernel(n_buckets: int):
    """mapInPandas kernel: per sequence, bucket-count tokens into a fixed
    ``n_buckets``-length histogram (token % n_buckets, numpy bincount per
    Arrow-backed row). The full token array dies HERE, map-side — only
    (source, event_ts, hist[n_buckets]) ever reaches an exchange."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            hists = [
                np.bincount(
                    np.asarray(arr, dtype=np.int64) % n_buckets,
                    minlength=n_buckets,
                ).tolist()
                for arr in pdf["tokens"]
            ]
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "event_ts": pdf["event_ts"],
                    "hist": hists,
                }
            )

    return kernel


def _drift_hist(
    df: DataFrame, n_buckets: int, window: str, watermark: str
) -> DataFrame:
    """Shared stream/batch drift plan: map-side bucket histograms, then
    per-(window, source, pos) sums."""
    feat = df.mapInPandas(
        _bucket_hist_kernel(n_buckets),
        schema="source string, event_ts timestamp, hist array<bigint>",
    ).withWatermark("event_ts", watermark)
    return (
        feat.select("source", "event_ts", F.posexplode("hist").alias("pos", "cnt"))
        .groupBy(F.window("event_ts", window).alias("w"), "source", "pos")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .select("source", F.col("w.start").alias("window_start"), "pos", "cnt")
    )


def _drift_plan(
    spark, input_dir, read, window="10 minutes", watermark="5 minutes",
    n_buckets=32,
) -> DataFrame:
    """Streaming corpus-drift monitor — the deployable twin of the batch
    ``token_js_divergence_by_source`` entry: per (source, window), the
    bucketed token distribution, published as an exactly-once table
    keyed (source, window_start, pos); ``drift_report`` turns that table
    into per-source JS-divergence rows vs each window's global mix.

    Scale shape: the token payload is reduced map-side to an
    ``n_buckets``-length histogram per sequence (_bucket_hist_kernel), so
    the stateful exchange carries (window, source, pos) partial sums —
    bounded by windows x sources x n_buckets regardless of corpus size —
    and the group-key space is naturally spread (no salting needed: every
    source fans out over n_buckets keys)."""
    return _drift_hist(read(input_dir), n_buckets, window, watermark)


def drift_report(hist: DataFrame) -> DataFrame:
    """Per (source, window): Jensen-Shannon divergence between the
    source's bucketed token distribution and the window's global mix,
    computed from the histogram table the drift job publishes. The input
    is bucket-bounded (windows x sources x n_buckets rows), so every
    join here is small; the dense JS sum (p = 0 for buckets a source
    never hit) mirrors the batch entry's oracle formulation. 6-dp
    rounding as everywhere in the cross-engine contract."""
    g = hist.groupBy("window_start", "pos").agg(F.sum("cnt").alias("gcnt"))
    gt = g.groupBy("window_start").agg(F.sum("gcnt").alias("gt"))
    st = hist.groupBy("source", "window_start").agg(
        F.sum("cnt").alias("stot")
    )
    grid = (
        st.join(g, "window_start")
        .join(gt, "window_start")
        .join(
            hist.withColumnRenamed("cnt", "scnt"),
            ["source", "window_start", "pos"],
            "left",
        )
    )
    p = F.coalesce(F.col("scnt"), F.lit(0)).cast("double") / F.col("stot")
    q = F.col("gcnt").cast("double") / F.col("gt")
    # guards: p = 0 for buckets the source never hit; q = 0 for buckets
    # nothing in the window hit (the histogram grid publishes zero rows)
    term = (
        F.when(p > 0, 0.5 * p * F.log2(2 * p / (p + q))).otherwise(F.lit(0.0))
        + F.when(q > 0, 0.5 * q * F.log2(2 * q / (p + q))).otherwise(F.lit(0.0))
    )
    return grid.groupBy("source", "window_start").agg(
        F.first(F.col("stot").cast("long")).alias("n_tokens"),
        F.round(F.sum(term), 6).alias("js_div"),
    )


def calibrate_mix_rates(
    spark: SparkSession,
    input_dir: str,
    target: dict[str, float] | None = None,
) -> list[tuple[str, int]]:
    """Offline mixture calibration for the mix job (the lambda pattern:
    rates are computed batch-side over a calibration corpus, then applied
    as a static broadcast in the stream). Same math as
    operators/mixing.resample_to_mix: cap = min_s(T_s / f_s), rate =
    f_s * cap / T_s, never upsampling. Returns (source, threshold) with
    threshold = floor(round(rate, 9) * 1e6) ready for the stream's
    md5_60(doc_id) mod 1e6 acceptance test.

    Variance-under-skew caveat: rates are calibrated on TOKEN totals but
    the stream's acceptance hashes doc_id, which in the sequence table is
    non-unique and heavily skewed (~1% of doc_ids carry ~30% of rows), so
    hot documents are kept or dropped WHOLESALE. The realized kept token
    share is therefore correct in expectation but can deviate for any one
    run when a few hot doc_ids straddle the threshold. This is a
    deliberate trade: per-document atomicity (all sequences of a doc
    survive together — what training-data dedup/decontamination
    downstream assumes, and what keeps the decision replayable under
    at-least-once redelivery) over tighter per-run share variance. Hash a
    per-row key (e.g. doc_id || event_ts) instead only when per-document
    consistency is explicitly not required."""
    totals = (
        read_sequence_table(spark, input_dir)
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("t"))
        .collect()
    )
    shares = {
        r["source"]: (target[r["source"]] if target else 1.0 / len(totals))
        for r in totals
    }
    cap = min(r["t"] / shares[r["source"]] for r in totals)
    return [
        (
            r["source"],
            int(
                min(1.0, round(shares[r["source"]] * cap / r["t"], 9)) * 1_000_000
            ),
        )
        for r in totals
    ]


def _mix_volume(
    df: DataFrame, rates: list[tuple[str, int]], window: str, watermark: str
) -> DataFrame:
    """Shared stream/batch mix plan: broadcast threshold join + seedless
    hash acceptance (token arrays projected away BEFORE any exchange),
    then the per-(window, source) kept volume."""
    from parallel_dataflow_spark.functions.text import md5_60bit

    rdf = df.sparkSession.createDataFrame(rates, "source string, thresh long")
    u = F.pmod(md5_60bit(F.col("doc_id")), F.lit(1_000_000))
    kept = (
        df.select("doc_id", "source", "n_tok", "event_ts")
        .withColumn("u", u)
        .join(F.broadcast(rdf), "source")
        .filter(F.col("u") < F.col("thresh"))
        .withWatermark("event_ts", watermark)
    )
    return (
        kept.groupBy(F.window("event_ts", window).alias("w"), "source")
        .agg(
            F.count("*").cast("long").alias("docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
        )
        .select(
            "source",
            F.col("w.start").alias("window_start"),
            "docs_kept",
            "tokens_kept",
        )
    )


def _mix_plan(
    spark, input_dir, read, rates=None, window="10 minutes",
    watermark="5 minutes",
) -> DataFrame:
    """Streaming mixture resampler — the deployable twin of the batch
    ``resample_uniform_mix`` entry: documents are accepted by the
    batch-calibrated per-source hash threshold (``rates``; calibrated
    from ``input_dir`` itself when None) and the kept volume is published
    per (source, window) to an exactly-once sink keyed
    (source, window_start).

    Scale shape: acceptance is a map-side hash test against a broadcast
    source-count-sized threshold table — rejected rows die before any
    exchange, token arrays are projected away first, and the stateful
    shuffle carries one (source, window) partial per map task. The kept
    stream itself (not aggregated here) would flow to downstream sinks
    at the same cost as the input scan."""
    if rates is None:
        rates = calibrate_mix_rates(spark, input_dir)
    return _mix_volume(read(input_dir), rates, window, watermark)


def _quota_plan(
    spark, input_dir, read, budget=2_000, window_sec=600, ttl_sec=600,
    watermark="5 minutes",
) -> DataFrame:
    """Streaming windowed quota enforcement — the deployable face of
    token_quota_stream (streaming/stateful.py) and
    the 13th deployable: sequences are admitted per (source, event-time
    window) while the window's cumulative raw token total stays within
    ``budget``, and the RUNNING per-window admitted/rejected totals are
    published to an exactly-once sink keyed (source, window_start) —
    running emissions + latest-wins keyed upsert = correct totals under
    any micro-batch split or replay.

    Scale shape: token arrays die in the JVM prestage (the stateful
    exchange carries 4 small columns keyed by source); per-key state is
    O(live windows) with watermark+ttl purge, so a dead source retains
    nothing. Quota admission at the stream edge is how a production
    ingest caps a runaway source before it pollutes the mix."""
    from parallel_dataflow_spark.streaming.stateful import token_quota_stream

    return token_quota_stream(
        read(input_dir), budget, window_sec, ttl_sec, watermark
    )


def _spandedup_plan(
    spark, input_dir, read, span_tokens=16, ttl_sec=3600,
    watermark="5 minutes",
) -> DataFrame:
    """Streaming C4-style keep-first span dedup — the 14th deployable:
    non-overlapping ``span_tokens``-token spans are hashed map-side, and
    per span hash the buffered-release state kernel
    (streaming/spandedup.span_dedup_stream) assigns a
    batching-invariant owner (first in global (event_ts, ck) order within
    the watermark+ttl horizon) and running duplicate counts, published to
    an exactly-once sink keyed by the span hash (latest-wins = final).

    Scale shape: token arrays die in the JVM prestage; the stateful
    exchange carries fixed-width (h, ts, doc_id, span_idx, ck) rows;
    per-key state is one owner record + the sub-watermark buffer, purged
    by timer once the horizon closes — a span hash that stops arriving
    retains nothing. Sub-document dedup at the stream edge is the
    streaming face of ExactSubstr/C4: it catches boilerplate the moment
    it floods in instead of in a nightly batch pass."""
    from parallel_dataflow_spark.streaming.spandedup import span_dedup_stream

    return span_dedup_stream(read(input_dir), span_tokens, ttl_sec, watermark)


def calibrate_dsir_lr(
    spark: SparkSession,
    input_dir: str,
    target_source: str = "wiki",
    buckets: int = 1024,
) -> list[int]:
    """Batch calibration for the streaming DSIR gate: hashed-unigram
    (token mod ``buckets``) target-vs-rest log-likelihood-ratio model
    over the sequence table, in integer micro-nats (the operators/dsir
    contract: one float->int conversion per bucket, exact integer
    arithmetic everywhere after). Returns a dense ``buckets``-long list —
    small enough to bake into the streaming plan as a literal."""
    import math

    df = read_sequence_table(spark, input_dir)
    b_ct = int(buckets)
    is_t = F.col("source") == target_source
    counts = (
        df.select("source", F.explode("tokens").alias("t"))
        .groupBy((F.pmod("t", F.lit(b_ct))).alias("b"))
        .agg(
            F.sum(F.when(is_t, 1).otherwise(0)).alias("c_t"),
            F.sum(F.when(~is_t, 1).otherwise(0)).alias("c_r"),
        )
        .collect()
    )
    by_b = {int(r["b"]): (int(r["c_t"]), int(r["c_r"])) for r in counts}
    tot_t = sum(v[0] for v in by_b.values())
    tot_r = sum(v[1] for v in by_b.values())
    lr = []
    for b in range(b_ct):
        c_t, c_r = by_b.get(b, (0, 0))
        val = math.log((c_t + 1.0) / (tot_t + b_ct)) - math.log(
            (c_r + 1.0) / (tot_r + b_ct)
        )
        lr.append(int(round(val * 1e6)))
    return lr


def _dsir_weight(lr_micro: list[int], buckets: int):
    """Per-row DSIR weight as a pure-JVM fold: the ≤``buckets``-element
    micro-nat model is an array LITERAL in the plan (the broadcast-
    centroid trick applied to a language model), so scoring every token
    of every sequence costs zero exchanges and zero Python."""
    lr_arr = F.array(*[F.lit(int(v)) for v in lr_micro])
    return F.aggregate(
        F.transform(
            F.col("tokens"),
            lambda t: F.element_at(lr_arr, F.pmod(t, F.lit(int(buckets))) + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _dsir_admission(df: DataFrame, lr_micro: list[int], buckets: int,
                    window: str) -> DataFrame:
    adm = (_dsir_weight(lr_micro, buckets) > 0).alias("admitted")
    return (
        df.withColumn("admitted", adm)
        .groupBy(F.window("event_ts", window).alias("w"), "source")
        .agg(
            F.sum(F.when(F.col("admitted"), 1).otherwise(0))
            .cast("long")
            .alias("docs_admitted"),
            F.sum(F.when(~F.col("admitted"), 1).otherwise(0))
            .cast("long")
            .alias("docs_rejected"),
            F.sum(F.when(F.col("admitted"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_admitted"),
        )
        .select(
            "source",
            F.col("w.start").alias("window_start"),
            "docs_admitted",
            "docs_rejected",
            "tokens_admitted",
        )
    )


def _dsirgate_plan(
    spark, input_dir, read, target_source="wiki", buckets=1024,
    lr_micro=None, window="10 minutes", watermark="5 minutes",
) -> DataFrame:
    """Streaming DSIR admission gate — the 15th deployable and the
    calibrate-offline / enforce-online twin of the batch
    ``dsir_select_docs`` entry (Xie et al. 2023): sequences whose hashed-
    unigram target-vs-rest importance weight is positive are admitted at
    the stream edge; per-(source, window) admission stats go to an
    exactly-once sink keyed (source, window_start).

    Scale shape: the calibrated model is ≤``buckets`` integers baked into
    the plan as an array literal, so admission is a pure scan-side JVM
    fold over each row's tokens — rejected rows die before ANY exchange,
    there is no Python and no broadcast join in the gate, and the only
    stateful stage is the windowed stats aggregation (one partial per map
    task). Weights are exact BIGINT micro-nat sums (the operators/dsir
    contract), so admission is deterministic under any partitioning,
    batching, or replay."""
    if lr_micro is None:
        lr_micro = calibrate_dsir_lr(spark, input_dir, target_source, buckets)
    return _dsir_admission(
        read(input_dir).withWatermark("event_ts", watermark),
        lr_micro,
        buckets,
        window,
    )


# ---------------------------------------------------------------------------
# Streaming HLL cardinality: per-window distinct-doc_id registers
# ---------------------------------------------------------------------------

def _hll_window_registers(df: DataFrame, window: str, watermark: str) -> DataFrame:
    """Per-(window, bucket) max-rho register rows from the sequence
    stream/table. The md5 bucket/rho derivation is scan-side; the only
    stateful stage is the (window, bucket) max agg whose state is ≤ 2^p
    rows per window REGARDLESS of how many distinct doc_ids the window
    saw — the reason a sketch, not dropDuplicates+count, is the
    10^12-sequence cardinality design (operators/sketches.py)."""
    from parallel_dataflow_spark.operators.sketches import hll_rho

    bucket, rho = hll_rho(F.col("doc_id").cast("string"))
    pre = df.select(
        "event_ts", bucket.alias("bucket"), rho.alias("rho")
    ).withWatermark("event_ts", watermark)
    return (
        pre.groupBy(F.window("event_ts", window).alias("w"), "bucket")
        .agg(F.max("rho").alias("rho"))
        .select(
            F.col("w.start").cast("timestamp_ltz").cast("long").alias("window_start"),
            "bucket",
            "rho",
        )
    )


def _hll_plan(
    spark, input_dir, read, window="10 minutes", watermark="5 minutes"
) -> DataFrame:
    """Streaming HLL distinct-documents-per-window — the 16th deployable.

    Update-mode running register emissions through the latest-wins keyed
    sink (key = (window_start, bucket)) converge to the exact batch
    registers under any batching/replay because max() is monotone — the
    running-totals sink argument (the quota job) applied to a sketch.
    Registers stay mergeable downstream: a global or coarser-grain
    cardinality is one groupBy-max away from the sink table, with no
    reprocessing of the stream."""
    return _hll_window_registers(read(input_dir), window, watermark)


def hll_report(registers: DataFrame) -> DataFrame:
    """Finalize a (window_start, bucket, rho) sink table into per-window
    cardinality estimates — runs on the register table only (≤ 2^p rows
    per window), never on the stream."""
    from parallel_dataflow_spark.operators.sketches import hll_estimate

    return hll_estimate(
        registers.select("window_start", "bucket", "rho"), ["window_start"]
    )


# ---------------------------------------------------------------------------
# Streaming Count-Min: per-window token-frequency sketch cells
# ---------------------------------------------------------------------------

def _cms_window_cells(df: DataFrame, window: str, watermark: str) -> DataFrame:
    """Per-(window, cell) counts over the token stream. Tokens explode
    map-side into CMS cell ids (token arrays die at the scan — only
    fixed-width (event_ts, cell) rows reach the stateful agg); state is
    ≤ depth × width rows per window regardless of vocabulary size."""
    from parallel_dataflow_spark.operators.sketches import cms_cells

    pre = df.select(
        "event_ts",
        F.explode(
            F.flatten(
                F.transform(
                    F.col("tokens"),
                    lambda t: cms_cells(t.cast("string")),
                )
            )
        ).alias("cell"),
    ).withWatermark("event_ts", watermark)
    return (
        pre.groupBy(F.window("event_ts", window).alias("w"), "cell")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").cast("timestamp_ltz").cast("long").alias("window_start"),
            "cell",
            "cnt",
        )
    )


def _cms_plan(
    spark, input_dir, read, window="10 minutes", watermark="5 minutes"
) -> DataFrame:
    """Streaming Count-Min token-frequency sketch — the 17th deployable,
    the sum-mergeable sibling of the hll job's max-mergeable registers.

    Update-mode emits RUNNING cell counts; counts are associative sums of
    exact integers, so the emissions are batching-invariant and the
    latest-wins keyed sink (key = (window_start, cell)) converges to the
    exact batch cell table under any replay — the running-totals argument
    (the quota job) applied to a sketch. Any token's frequency estimate
    in any window is then a constant-time min over depth cells of the
    sink table, with the one-sided CMS guarantee."""
    return _cms_window_cells(read(input_dir), window, watermark)


def cms_report(cells: DataFrame, probe_tokens: list[int]) -> DataFrame:
    """Per-window frequency estimates for a probe token list, from the
    sink cell table only (constant-size per window): min over the depth
    cells of each probe."""
    from parallel_dataflow_spark.operators.sketches import cms_cells

    spark = cells.sparkSession
    probes = spark.createDataFrame(
        [(int(t),) for t in probe_tokens], "token int"
    ).select(
        "token",
        F.explode(cms_cells(F.col("token").cast("string"))).alias("cell"),
    )
    from parallel_dataflow_spark.operators.sketches import CMS_DEPTH

    return (
        cells.join(F.broadcast(probes), "cell")
        .groupBy("window_start", "token")
        .agg(
            F.min("cnt").cast("long").alias("min_cnt"),
            F.count("*").alias("n_cells"),
        )
        # a probe with any all-zero cell in this window has estimate 0
        # (the missing cell never materialized a sink row)
        .select(
            "window_start",
            "token",
            F.when(F.col("n_cells") < CMS_DEPTH, F.lit(0))
            .otherwise(F.col("min_cnt"))
            .cast("long")
            .alias("cms_estimate"),
        )
    )


def cms_rollup(cells: DataFrame, grain_seconds: int = 3600) -> DataFrame:
    """Coarsen a (window_start, cell, cnt) Count-Min cell table to a
    larger window grain by groupBy-SUM — the additive twin of
    hll_rollup's max-merge: CMS is linear, so an hourly (or daily)
    frequency sketch is one cell-bounded aggregation over the sink
    table, with no reprocessing of the stream."""
    coarse = (F.col("window_start") / grain_seconds).cast("long") * grain_seconds
    return (
        cells.select(coarse.alias("window_start"), "cell", "cnt")
        .groupBy("window_start", "cell")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def hll_rollup(registers: DataFrame, grain_seconds: int = 3600) -> DataFrame:
    """Coarsen a (window_start, bucket, rho) register table to a larger
    window grain by groupBy-max — the mergeable-sketch payoff: an hourly
    (or daily) cardinality rollup costs one register-bounded aggregation
    over the sink table, with NO reprocessing of the stream. (Counts
    could not do this: distinct counts are not additive across windows;
    registers are max-mergeable by construction.)"""
    coarse = (F.col("window_start") / grain_seconds).cast("long") * grain_seconds
    return (
        registers.select(
            coarse.alias("window_start"), "bucket", "rho"
        )
        .groupBy("window_start", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


# ---------------------------------------------------------------------------
# Streaming Bloom contamination gate (18th deployable)
# ---------------------------------------------------------------------------

def _token_trigrams() -> Column:
    """array<string> of the row's token trigrams ("t1 t2 t3"), empty when
    the sequence is shorter than 3 — the token-stream analogue of the
    batch entries' word trigrams."""
    return F.when(F.size("tokens") < 3, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("tokens") - 2, F.lit(1))),
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at(F.col("tokens"), (i + k).cast("int")).cast("string")
                    for k in range(3)
                ],
            ),
        )
    )


def calibrate_bloom_filter(
    spark: SparkSession, input_dir: str, bench_source: str = "wiki"
) -> list[int]:
    """Batch calibration for the streaming Bloom gate: fold the benchmark
    split's token trigrams into the constant-size Bloom filter
    (operators/sketches.bloom_build) and return it as a dense
    BLOOM_WORDS-long list of BIGINT words — small enough to bake into the
    streaming plan as a literal, no matter how many distinct n-grams the
    benchmark holds (the property a broadcast n-gram SET does not have)."""
    from parallel_dataflow_spark.operators.sketches import bloom_build, bloom_collect
    bench = read_sequence_table(spark, input_dir).filter(
        F.col("source") == bench_source
    )
    grams = bench.select(F.explode(_token_trigrams()).alias("gram"))
    return bloom_collect(bloom_build(grams, "gram"))


def _bloom_gram_hits(words: list[int]) -> Column:
    """Per-row count of bloom-positive token trigrams as a pure scan-side
    JVM fold: the filter is a BLOOM_WORDS-element array LITERAL in the
    plan (the dsir-gate model-literal trick applied to a membership
    sketch), masks come from a 60-element literal lookup (F.shiftleft
    needs a literal shift amount, so the masks are pre-tabulated), and
    each gram tests K word/mask pairs — zero exchanges, zero Python,
    no broadcast join."""
    from parallel_dataflow_spark.operators.sketches import bloom_member_expr

    member = bloom_member_expr(words)
    return F.aggregate(
        F.transform(
            _token_trigrams(), lambda g: F.when(member(g), 1).otherwise(0).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _bloom_admission(df: DataFrame, words: list[int], window: str) -> DataFrame:
    hits = _bloom_gram_hits(words)
    return (
        df.withColumn("grams_hit", hits)
        .groupBy(F.window("event_ts", window).alias("w"), "source")
        .agg(
            F.sum(F.when(F.col("grams_hit") > 0, 1).otherwise(0))
            .cast("long")
            .alias("docs_flagged"),
            F.sum(F.when(F.col("grams_hit") > 0, 0).otherwise(1))
            .cast("long")
            .alias("docs_clean"),
            F.sum("grams_hit").cast("long").alias("grams_hit"),
        )
        .select(
            "source",
            F.col("w.start").alias("window_start"),
            "docs_flagged",
            "docs_clean",
            "grams_hit",
        )
    )


def _bloomgate_plan(
    spark, input_dir, read, bench_source="wiki", bloom_words=None,
    window="10 minutes", watermark="5 minutes",
) -> DataFrame:
    """Streaming Bloom contamination gate — the 18th deployable and the
    online face of the batch ``sketch_bloom_contamination`` entry: every
    arriving sequence's token trigrams are membership-tested against a
    benchmark Bloom filter at the scan, and per-(source, window)
    contamination stats flow to an exactly-once sink keyed
    (source, window_start).

    Scale shape: the filter is a constant BLOOM_WORDS-integer literal in
    the plan REGARDLESS of benchmark cardinality — at 10^9 eval n-grams
    the broadcast-set decontamination join dies but this gate is
    unchanged; flagging is a pure scan-side JVM fold (zero exchanges,
    zero Python), and the only stateful stage is the windowed stats agg.
    One-sidedness means no contaminated sequence is EVER missed; bloom
    false positives only route a bounded extra fraction to whatever
    exact-verify stage sits downstream. The whole verdict is
    deterministic (salted-md5 bits, exact integer folds), so stream ==
    batch row for row under any partitioning, batching, or replay."""
    if bloom_words is None:
        bloom_words = calibrate_bloom_filter(spark, input_dir, bench_source)
    return _bloom_admission(
        read(input_dir).withWatermark("event_ts", watermark), bloom_words, window
    )


def _kmv_plan(
    spark, input_dir, read, window_sec=600, ttl_sec=600, watermark="5 minutes"
) -> DataFrame:
    """Streaming KMV bottom-k vocabulary sketch — the 19th deployable and
    the online face of the batch ``corpus_overlap_kmv`` entry: every
    (source, event-time window) keeps the K smallest distinct token
    hashes as keyed state (streaming/kmvstream.kmv_stream), and the
    running sketch rows flow to an exactly-once sink
    keyed (source, window_start). Per-window source cardinalities and
    ALL pairwise source vocabulary overlaps are then constant-time reads
    of the sink (kmv_window_report) — the stream never re-runs.

    Scale shape: token arrays die in the JVM prestage; per-key state is
    ONE ≤ KMV_K int64 array regardless of window vocabulary (the
    HLL-register argument applied to an order-statistics sketch); dead
    windows purge on an event-time timer. The bottom-k fold is
    order-invariant, so running emissions through the latest-wins keyed
    sink converge to the exact batch twin under any batching or replay —
    no buffered-release machinery needed."""
    from parallel_dataflow_spark.streaming.kmvstream import kmv_stream

    return kmv_stream(read(input_dir), window_sec, ttl_sec, watermark)


# ---------------------------------------------------------------------------
# Streaming heavy-hitter tracker: calibrated candidates, exact online shares
# ---------------------------------------------------------------------------

def _token_bigrams():
    """JVM-side "a_b" string bigrams of the int token array (empty when
    the sequence is shorter than 2)."""
    n = F.size("tokens")
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice("tokens", F.lit(1), n - 1),
            F.slice("tokens", F.lit(2), n - 1),
            lambda a, b: F.concat_ws("_", a.cast("string"), b.cast("string")),
        ),
    ).otherwise(F.array().cast("array<string>"))


def calibrate_hh_candidates(
    spark: SparkSession, input_dir: str, theta: float = 0.002
) -> list[str]:
    """Batch Misra-Gries + exact recount over the calibration corpus
    (operators/heavy_hitters.py): the token bigrams with share >= theta.
    The returned list is bounded by 1/theta regardless of corpus size —
    small enough to bake into the streaming plan as an InSet literal.

    The division of labor this encodes: DISCOVERY of heavy keys needs
    the MG no-false-negative pass and stays batch (its summary content
    is arrival-order-dependent, which the repo's deterministic-stream
    discipline forbids as state); TRACKING the discovered keys online is
    exact, deterministic, and bounded — the calibrate-offline /
    enforce-online split of the mix job applied to frequency."""
    from parallel_dataflow_spark.operators.heavy_hitters import heavy_hitters_exact
    items = read_sequence_table(spark, input_dir).select(
        _token_bigrams().alias("bg")
    )
    hh = heavy_hitters_exact(items, "bg", theta=theta, key_alias="key")
    return sorted(r["key"] for r in hh.select("key").collect())


def _hh_admission(
    df: DataFrame, candidates: list[str], window: str, watermark: str
) -> DataFrame:
    """Shared stream/batch plan: per-(window, candidate-bigram) exact
    counts plus a '*' row carrying the window's total bigram count (the
    share denominator). The candidate test is an InSet literal evaluated
    right after the map-side explode — the tail dies before the
    exchange, which carries candidate instances + ONE total row per
    sequence."""
    cand = df.select(
        "event_ts",
        F.explode(_token_bigrams()).alias("key"),
        F.lit(1).cast("long").alias("w"),
    ).filter(F.col("key").isin(candidates))
    total = df.select(
        "event_ts",
        F.lit("*").alias("key"),
        F.greatest(F.size("tokens") - 1, F.lit(0)).cast("long").alias("w"),
    )
    u = cand.unionByName(total).withWatermark("event_ts", watermark)
    return (
        u.groupBy(F.window("event_ts", window).alias("wd"), "key")
        .agg(F.sum("w").cast("long").alias("cnt"))
        .select(
            F.col("wd.start").cast("timestamp_ltz").cast("long").alias("window_start"),
            "key",
            "cnt",
        )
    )


def _hhtrack_plan(
    spark, input_dir, read, theta=0.002, candidates=None,
    window="10 minutes", watermark="5 minutes",
) -> DataFrame:
    """Streaming heavy-hitter tracker — the 20th deployable and the
    online face of the graded ``heavy_hitter_bigrams_mg`` entry: token
    bigrams discovered heavy by the batch MG pass are counted EXACTLY
    per event-time window (plus the window's total as a '*' row), so
    per-window shares and threshold alerts are constant-time reads of
    the sink keyed (window_start, key).

    Scale shape: the candidate set is ≤ 1/theta keys regardless of
    corpus size — an InSet literal at the scan; the long tail dies
    map-side at the explode, and the stateful exchange carries candidate
    instances + one row per sequence. Counts are associative BIGINT sums
    → running update-mode emissions converge through the latest-wins
    sink under any batching or replay (the cms job's argument).
    Honest scope note: keys that FIRST become heavy after calibration
    are not tracked until recalibration — online discovery would need
    order-dependent MG state, which the deterministic-stream discipline
    rules out; discovery is the batch pass's job."""
    if candidates is None:
        candidates = calibrate_hh_candidates(spark, input_dir, theta)
    return _hh_admission(read(input_dir), candidates, window, watermark)


def hh_report(rows: DataFrame, theta: float = 0.0) -> DataFrame:
    """Per-window exact shares for the tracked keys from the sink table
    alone: share = cnt / the window's '*' total; keep shares >= theta."""
    tot = rows.filter(F.col("key") == "*").select(
        "window_start", F.col("cnt").alias("total")
    )
    return (
        rows.filter(F.col("key") != "*")
        .join(F.broadcast(tot), "window_start")
        .filter(F.col("cnt") >= F.lit(theta) * F.col("total"))
        .select(
            "window_start",
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming histogram-quantile job: calibrated fixed grid, per-window cells
# ---------------------------------------------------------------------------

def calibrate_hist_grid(spark: SparkSession, input_dir: str) -> tuple[int, int]:
    """Exact (vmin, vmax) of n_tok over the calibration corpus — two
    integers baked into the streaming plan as literals.

    A data-dependent grid (the batch histogram_quantiles' first pass)
    cannot be streaming state: it would make every bucket id depend on
    rows not yet seen, i.e. a second stateful stage feeding the first.
    The calibrate-offline / enforce-online split (the mix, bloomgate and
    hhtrack jobs) applies verbatim: the GRID is fixed
    ahead of time from a calibration sample; the per-window cell counts
    are exact and online."""
    row = (
        read_sequence_table(spark, input_dir)
        .agg(F.min("n_tok").alias("lo"), F.max("n_tok").alias("hi"))
        .collect()[0]
    )
    return int(row["lo"]), int(row["hi"])


def _histq_window_cells(
    df: DataFrame, vmin: int, vmax: int, window: str, watermark: str
) -> DataFrame:
    """Per-(window, bucket) exact counts of n_tok on the calibrated fixed
    grid. Bucket ids are a scan-side literal expression (no state, no
    Python); the only stateful stage is the (window, bucket) count whose
    state is <= HIST_BUCKETS rows per window regardless of row volume.
    Post-calibration drift outside [vmin, vmax] clamps into the edge
    buckets — counts stay exact, the edge-bucket quantile estimates
    degrade to the grid edge instead of failing (see histq_report)."""
    from parallel_dataflow_spark.operators.sketches import HIST_BUCKETS

    if vmax == vmin:
        bucket = F.lit(0)
    else:
        w = float(vmax - vmin) / float(HIST_BUCKETS)
        bucket = F.greatest(
            F.lit(0),
            F.least(
                F.lit(HIST_BUCKETS - 1),
                F.floor((F.col("n_tok") - F.lit(vmin)) / F.lit(w)).cast("int"),
            ),
        )
    pre = df.select("event_ts", bucket.alias("b")).withWatermark(
        "event_ts", watermark
    )
    return (
        pre.groupBy(F.window("event_ts", window).alias("wd"), "b")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            F.col("wd.start").cast("timestamp_ltz").cast("long").alias("window_start"),
            "b",
            "cnt",
        )
    )


def _histq_plan(
    spark, input_dir, read, grid=None, window="10 minutes",
    watermark="5 minutes",
) -> DataFrame:
    """Streaming sequence-length histogram — the 21st deployable and the
    online face of the batch histogram_quantiles sketch (HLL =
    cardinality, CMS = frequency, histogram = quantiles; this completes
    the streaming set). Per-window p50/p90/p99 of n_tok are then
    constant-time reads of the sink table (histq_report) — the length
    distribution of every training window is monitorable without ever
    re-running the stream.

    Scale shape: bucket ids are literal scan-side arithmetic; the
    stateful exchange carries (event_ts, bucket) only and its state is
    <= HIST_BUCKETS rows per window. Cell counts are associative BIGINT
    sums, so update-mode running emissions converge through the
    latest-wins keyed sink (key = (window_start, b)) under any batching
    or replay — the cms job's argument on a different cell geometry."""
    if grid is None:
        grid = calibrate_hist_grid(spark, input_dir)
    vmin, vmax = grid
    return _histq_window_cells(read(input_dir), vmin, vmax, window, watermark)


def histq_report(
    cells: DataFrame,
    grid: tuple[int, int],
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-window quantile estimates from the sink cell table alone
    (<= HIST_BUCKETS rows per window — the cumulative window never sees
    the data). Same estimator as the batch histogram_quantiles: the
    LOWER EDGE of the first bucket whose cumulative count reaches
    ceil(q*n), one-sided within (vmax-vmin)/HIST_BUCKETS of the true
    order statistic for in-range values."""
    from parallel_dataflow_spark.operators.sketches import HIST_BUCKETS

    vmin, vmax = grid
    win = (
        Window.partitionBy("window_start")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("window_start")
    cum = cells.withColumn("cum", F.sum("cnt").over(win)).withColumn(
        "n", F.sum("cnt").over(tot)
    )
    aggs = [F.max("n").alias("n_rows")]
    for q in quantiles:
        name = f"p{int(round(q * 100))}_est"
        target = F.ceil(F.lit(q) * F.col("n").cast("double"))
        qb = F.min(F.when(F.col("cum") >= target, F.col("b")))
        aggs.append(
            F.round(
                F.lit(float(vmin))
                + qb.cast("double")
                * F.lit(float(vmax - vmin))
                / F.lit(float(HIST_BUCKETS)),
                6,
            ).alias(name)
        )
    return cum.groupBy("window_start").agg(*aggs)


def histq_rollup(cells: DataFrame, grain_seconds: int = 3600) -> DataFrame:
    """Coarsen a (window_start, b, cnt) histogram cell table to a larger
    window grain by groupBy-SUM — the fourth rollup law: the grid is
    window-independent (calibrated globally), so summed fine-grain cells
    ARE the direct coarse-grain histogram, and hourly/daily quantiles
    cost one cell-bounded aggregation with no stream reprocessing."""
    coarse = (F.col("window_start") / grain_seconds).cast("long") * grain_seconds
    return (
        cells.select(coarse.alias("window_start"), "b", "cnt")
        .groupBy("window_start", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Left-outer stream-stream join: missing-retokenization detector
# ---------------------------------------------------------------------------

def _right_feed_filter():
    """Deterministic ~90% subset predicate for the simulated
    re-tokenized feed: keep doc_ids with xxhash64 % 10 != 0. Hash-based,
    so left and right legs agree on membership at any parallelism."""
    return F.pmod(F.xxhash64(F.col("doc_id")), F.lit(10)) != 0


def _outerjoin_plan(
    spark, input_dir, read, watermark="10 minutes", max_delay="5 minutes"
) -> DataFrame:
    """Missing-retokenization detector — the 22nd deployable and the
    engine's only WATERMARK-EXPIRY EMISSION path: a left-outer
    stream-stream join of the raw feed against a (simulated, hash-
    deterministic 90%) re-tokenized feed. Matched pairs emit on arrival;
    sequences whose twin never arrives emit NULL-PADDED only when the
    watermark proves no match can still come — the row exists BECAUSE
    state expired, which no inner join, window agg, or keyed-state job
    in the repo exercises.

    Operationally this is the pipeline-gap audit at 10^12 scale: the
    unmatched rows ARE the re-tokenization backlog, emitted incrementally
    with bounded state (watermark + interval eviction, both sides).
    Sink key = the full output row (doc_id, left_ts, left_ck, right_ts_s,
    right_ck) with -1 sentinels for the null side, so replays upsert
    idempotently. Honest scope note: a finite test stream needs a
    trailing flush row to push the watermark past the last real event —
    an unbounded production stream advances it for free."""
    return W.stream_stream_token_left_join(
        read(input_dir),
        read(input_dir).filter(_right_feed_filter()),
        watermark=watermark,
        max_delay=max_delay,
    )


# ---------------------------------------------------------------------------
# Incrementally-maintained materialized view over the sketch sink
# ---------------------------------------------------------------------------

def run_matview_job(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    window: str = "10 minutes",
    watermark: str = "5 minutes",
    max_files_per_trigger: int = 2,
) -> tuple[StreamingQuery, IdempotentKeyedSink, IdempotentKeyedSink]:
    """Continuously-maintained cardinality view — the 23rd deployable:
    one stateful stage (the HLL register agg) feeds TWO exactly-once
    sinks per micro-batch: the raw register sink (key (window_start,
    bucket)) and a DERIVED estimates sink (key window_start) recomputed
    from the register sink for ONLY the windows the batch touched. The
    report stops being an on-demand query (`hll_report`) and becomes an
    incrementally-maintained materialized view — the dataflow-graph
    "one vertex, two output channels" topology as foreachBatch.

    Replay safety is compositional: the register upsert is the standard
    latest-wins argument; the estimate recompute is a DETERMINISTIC
    function of the register sink's resolved state, so a replayed batch
    rewrites byte-identical estimate rows (idempotent epoch overwrite),
    and a crash between the two writes just replays both. Per-batch
    derived work is bounded: touched windows × (≤ 2^p register rows +
    one estimate row) — never the stream, never all windows."""
    from parallel_dataflow_spark.operators.sketches import hll_estimate

    reg_sink = IdempotentKeyedSink(
        os.path.join(work_dir, "sink"), key_cols=["window_start", "bucket"]
    )
    est_sink = IdempotentKeyedSink(
        os.path.join(work_dir, "est_sink"), key_cols=["window_start"]
    )

    def fb(batch_df: DataFrame, batch_id: int) -> None:
        reg_sink.write_batch(batch_df, batch_id)
        # touched-window selection as a broadcast LEFT-SEMI join (r6,
        # ADVICE): a replay/backfill micro-batch touching thousands of
        # windows would otherwise build an unbounded IN-list literal on
        # the driver (collect + analysis cost); the semi-join keeps the
        # per-batch derived work bounded without driver materialization
        touched = batch_df.select("window_start").distinct()
        if touched.limit(1).count() == 0:
            return
        regs = reg_sink.read(spark).join(
            F.broadcast(touched), "window_start", "left_semi"
        )
        est_sink.write_batch(hll_estimate(regs, ["window_start"]), batch_id)

    stream = read_sequence_stream(spark, input_dir, max_files_per_trigger)
    regs = _hll_window_registers(stream, window, watermark)
    return _start(regs, "update", work_dir, fb), reg_sink, est_sink


# ---------------------------------------------------------------------------
# Stream-static enrichment join: broadcast dim onto the sequence stream
# ---------------------------------------------------------------------------

def calibrate_source_tiers(
    spark: SparkSession, input_dir: str, n_tiers: int = 3
) -> list[tuple[str, int]]:
    """Batch-derived dimension table: sources ranked into ``n_tiers``
    tiers by median sequence length (deterministic tie-break on source
    name). The calibrate-offline / enforce-online split producing a
    TABLE instead of literals — the dim is small (one row per source),
    which is exactly what makes the online join broadcastable."""
    med = (
        read_sequence_table(spark, input_dir)
        .groupBy("source")
        .agg(F.median("n_tok").alias("med"))
    )
    w = Window.orderBy(F.desc("med"), F.asc("source"))
    rows = med.select("source", F.ntile(n_tiers).over(w).alias("tier")).collect()
    return sorted((r["source"], int(r["tier"])) for r in rows)


def _enrich_agg(
    df: DataFrame, dim: DataFrame, window: str, watermark: str
) -> DataFrame:
    """Shared stream/batch plan: broadcast-join the per-source tier dim
    onto the feed (stream-static join — stateless, no watermark
    interplay), then the per-(window, tier) stats agg. Sources missing
    from the dim fall into tier 0 rather than silently dropping (inner
    join would lose rows the calibration never saw — the mixing.py
    advisor lesson applied to enrichment)."""
    pre = df.join(F.broadcast(dim), "source", "left").select(
        "event_ts",
        F.coalesce(F.col("tier"), F.lit(0)).alias("tier"),
        "n_tok",
    ).withWatermark("event_ts", watermark)
    return (
        pre.groupBy(F.window("event_ts", window).alias("wd"), "tier")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            F.col("wd.start").cast("timestamp_ltz").cast("long").alias("window_start"),
            "tier",
            "n_rows",
            "n_tokens",
        )
    )


def _enrich_plan(
    spark, input_dir, read, tiers=None, window="10 minutes",
    watermark="5 minutes",
) -> DataFrame:
    """Stream-static enrichment — the 24th deployable and the one join
    topology the engine didn't yet exercise: a BATCH dimension table
    (per-source quality tiers from calibrate_source_tiers) broadcast
    onto the unbounded stream, feeding a per-(window, tier) stats agg.
    Completes the topology matrix: stateless gate, stateful window agg,
    stream-stream inner + outer, keyed custom state, two-sink matview,
    and now dim-table enrichment.

    Scale shape: the dim is one row per SOURCE (thousands at most at any
    corpus size) — a BroadcastHashJoin at the scan with zero shuffle and
    zero state; the only stateful stage is the tier-bounded window agg.
    Counts/sums are associative BIGINT → the latest-wins sink converges
    under any batching or replay (the cms job's argument). Unlisted
    sources keep flowing as tier 0 — enrichment must never drop data."""
    if tiers is None:
        tiers = calibrate_source_tiers(spark, input_dir)
    dim = spark.createDataFrame(tiers, "source string, tier int")
    return _enrich_agg(read(input_dir), dim, window, watermark)


STREAM_JOBS: dict[str, StreamJob] = {
    "tumbling": StreamJob(("doc_id", "window_start"), "update", _tumbling_plan),
    "sliding": StreamJob(("source", "window_start"), "update", _sliding_plan),
    "session": StreamJob(("doc_id", "session_start"), "append", _session_plan),
    "throughput": StreamJob(
        ("doc_id", "window_start"), "update", _throughput_plan, 4
    ),
    "dedup": StreamJob(("doc_id", "fingerprint"), "append", _dedup_plan),
    "join": StreamJob(
        ("doc_id", "left_ts", "right_ts", "left_ck", "right_ck"),
        "append",
        _join_plan,
    ),
    "pipeline": StreamJob(("source", "window_start"), "append", _pipeline_plan),
    "drift": StreamJob(("source", "window_start", "pos"), "update", _drift_plan),
    "mix": StreamJob(("source", "window_start"), "update", _mix_plan),
    "quota": StreamJob(("source", "window_start"), "append", _quota_plan, 4),
    "spandedup": StreamJob(("h",), "append", _spandedup_plan, 4),
    "dsirgate": StreamJob(("source", "window_start"), "update", _dsirgate_plan),
    "hll": StreamJob(("window_start", "bucket"), "update", _hll_plan),
    "cms": StreamJob(("window_start", "cell"), "update", _cms_plan),
    "bloomgate": StreamJob(("source", "window_start"), "update", _bloomgate_plan),
    "kmv": StreamJob(("source", "window_start"), "append", _kmv_plan),
    "hhtrack": StreamJob(("window_start", "key"), "update", _hhtrack_plan),
    "histq": StreamJob(("window_start", "b"), "update", _histq_plan),
    "outerjoin": StreamJob(
        ("doc_id", "left_ts", "left_ck", "right_ts_s", "right_ck"),
        "append",
        _outerjoin_plan,
    ),
    "enrich": StreamJob(("window_start", "tier"), "update", _enrich_plan),
}

# bench.py's entry points into the table.
run_pipeline_job = functools.partial(run, "pipeline")
run_throughput_job = functools.partial(run, "throughput")

# The deployables the CLI can start by name (``cli stream --job``), in its
# listing order; the CEP job is left out because it needs a Pattern.
_RUNNERS = {"neardup": run_neardup_job, "matview": run_matview_job}
JOBS = {
    name: _RUNNERS.get(name) or functools.partial(run, name)
    for name in (
        "tumbling sliding session throughput dedup join pipeline neardup "
        "drift mix quota spandedup dsirgate hll cms bloomgate kmv hhtrack "
        "histq outerjoin matview enrich"
    ).split()
}
