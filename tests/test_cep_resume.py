"""CEP checkpoint-resume: kill the stateful NFA query mid-stream, restart
from checkpoint, final match set must equal the uninterrupted run (the
north rule's resumability requirement for stateful operators)."""

import contextlib

import numpy as np
import pandas as pd

from parallel_dataflow_spark.sources.sequences import SEQUENCE_SCHEMA
from parallel_dataflow_spark.streaming.cep import Pattern
from parallel_dataflow_spark.streaming.jobs import run_cep_job
from tests.conftest import stop_after_batch

PATTERN = Pattern.of([[7], [8]], gap_seconds=600)
BASE = np.datetime64("2026-01-01T00:00:00")


def _write_src(spark, d):
    rng = np.random.default_rng(np.random.PCG64(3))
    rows = []
    for i in range(400):
        doc = f"doc-{int(rng.integers(0, 20)):04d}"
        toks = rng.integers(0, 50, size=int(rng.integers(1, 12))).tolist()
        rows.append(
            {
                "doc_id": doc,
                "tokens": [int(t) for t in toks],
                "n_tok": len(toks),
                "source": "web",
                "event_ts": BASE + np.timedelta64(i * 5, "s"),
            }
        )
    # sentinel far ahead so the watermark flushes every buffer
    rows.append(
        {
            "doc_id": "zz",
            "tokens": [0],
            "n_tok": 1,
            "source": "web",
            "event_ts": BASE + np.timedelta64(2, "h"),
        }
    )
    pdf = pd.DataFrame(rows)
    pdf["event_ts"] = pdf["event_ts"].astype("datetime64[us]")
    import os

    os.makedirs(d)
    for i, part in enumerate(pdf.iloc[idx] for idx in np.array_split(np.arange(len(pdf)), 8)):
        spark.createDataFrame(part, schema=SEQUENCE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/chunk={i:04d}")


def canon(sink, spark):
    try:
        return sorted(tuple(r) for r in sink.read(spark).collect())
    except FileNotFoundError:
        return []


def kill_and_resume(spark, tmp_path, first_leg=contextlib.nullcontext()):
    """Run the CEP job uninterrupted, then again killed mid-stream (inside
    ``first_leg``) and resumed from its checkpoint; return both match sets."""
    src = str(tmp_path / "src")
    _write_src(spark, src)

    q, sink_full = run_cep_job(
        spark, src, str(tmp_path / "full"), PATTERN, watermark="1 minute",
        max_files_per_trigger=1,
    )
    q.processAllAvailable()
    q.stop()
    want = canon(sink_full, spark)
    assert want, "fixture produced no matches — pattern too rare"

    work = str(tmp_path / "resumed")
    with first_leg:
        q2, _ = run_cep_job(
            spark, src, work, PATTERN, watermark="1 minute", max_files_per_trigger=1
        )
        stop_after_batch(q2, 3)  # kill mid-stream with NFA state in the store

    q3, sink3 = run_cep_job(
        spark, src, work, PATTERN, watermark="1 minute", max_files_per_trigger=1
    )
    q3.processAllAvailable()
    q3.stop()
    return want, canon(sink3, spark)


def test_cep_resume_from_checkpoint(spark, tmp_path):
    want, got = kill_and_resume(spark, tmp_path)
    assert got == want
