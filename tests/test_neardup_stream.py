"""Streaming minhash near-dup flagging vs a pure-Python bucket-owner
simulation over the SAME rows in the SAME batch order (recovered from
the checkpoint's source log — the reference's differential style applied
to the stream).

Planted near-dups: a perturbed copy of every sequence (last token
replaced) arriving ~10 minutes later. For sequences with >=32 tokens the
copy's shingle-set Jaccard vs the original is >=(m-3)/(m+3) >= 0.8, so
they MUST be flagged; originals arrive first and must not be."""

import glob
import json
import os

from pyspark.sql import functions as F

from parallel_dataflow_spark.sources.sequences import (
    read_sequence_table,
    write_sequence_table,
)
from parallel_dataflow_spark.streaming.jobs import run_neardup_job
from parallel_dataflow_spark.streaming.neardup import neardup_prestage
from tests.conftest import stop_after_batch

THRESHOLD = 0.7


def _planted_source(spark, tmp_path, n_rows=600, seed=41):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, n_rows, seed=seed, n_files=3, rows_per_sec=2)
    base = read_sequence_table(spark, src)
    perturbed = base.select(
        F.concat(F.col("doc_id"), F.lit("_b")).alias("doc_id"),
        F.concat(
            F.slice(F.col("tokens"), 1, F.greatest(F.size("tokens") - 1, F.lit(0))),
            F.array(F.lit(7)),
        ).alias("tokens"),
        F.col("n_tok"),
        F.col("source"),
        (F.col("event_ts") + F.expr("INTERVAL 10 minutes")).alias("event_ts"),
    )
    # written AFTER the originals -> later mod time -> later batches
    perturbed.coalesce(2).write.mode("overwrite").parquet(src + "/perturbed")
    return src


def _batch_order(work):
    """file path -> batch id, from the stream's own source log."""
    order = {}
    for f in glob.glob(os.path.join(work, "checkpoint", "sources", "0", "*")):
        try:
            bid = int(os.path.basename(f))
        except ValueError:
            continue
        for line in open(f):
            if line.startswith("{"):
                order[json.loads(line)["path"]] = bid
    return order


def _simulate(rows, file_to_batch):
    """Pure-Python bucket-owner simulation. rows: (doc_id, ts, ck, n_tok,
    band, bhash, shash, file). Returns {(doc_id, ts, ck): (is_dup,
    dup_of, best_jac)}."""
    # group band rows per sequence, order sequences by (batch, ts, doc, ck)
    seqs = {}
    for r in rows:
        key = (r["doc_id"], r["event_ts"], r["ck"])
        s = seqs.setdefault(
            key, {"batch": file_to_batch[r["file"]], "bands": [], "shash": r["shash"]}
        )
        s["bands"].append((r["band"], r["bhash"]))
    owners = {}
    out = {}
    for key in sorted(seqs, key=lambda k: (seqs[k]["batch"], k[1], k[0], k[2])):
        doc, ts, ck = key
        sh = set(seqs[key]["shash"])
        if not sh:
            # too short to shingle: stateless verdict, claims no buckets
            out[key] = (False, None, 0.0)
            continue
        best = (0.0, None)
        for bk in seqs[key]["bands"]:
            if bk in owners:
                o_doc, o_ck, o_sh = owners[bk]
                if o_doc == doc and o_ck == ck:
                    continue  # byte-identical replay of the owner: claim
                u = len(sh | o_sh)
                jac = round(len(sh & o_sh) / u, 6) if u else 0.0
                # fold tie-break: max (jaccard, owner)
                if (jac, o_doc) > (best[0], best[1] or ""):
                    best = (jac, o_doc)
            else:
                owners[bk] = (doc, ck, sh)
        is_dup = best[0] >= THRESHOLD
        out[key] = (is_dup, best[1] if is_dup else None, best[0])
    return out


def test_neardup_stream_matches_simulation(spark, tmp_path):
    src = _planted_source(spark, tmp_path)
    work = str(tmp_path / "work")
    q, sink = run_neardup_job(spark, src, work, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()
    got = {
        (r["doc_id"], r["event_ts"], r["ck"]): (
            r["is_dup"],
            r["dup_of"],
            r["best_jaccard"],
        )
        for r in sink.read(spark).collect()
    }
    # golden: same prestage rows (batch mode) + recorded batch order
    pre = neardup_prestage(
        read_sequence_table(spark, src).withColumn("file", F.input_file_name()),
        extra_cols=("file",),
    )
    rows = [
        {
            "doc_id": r["doc_id"],
            "event_ts": r["event_ts"],
            "ck": r["ck"],
            "band": r["band"],
            "bhash": r["bhash"],
            "shash": list(r["shash"]),
            "file": r["file"],
        }
        for r in pre.collect()
    ]
    want = _simulate(rows, _batch_order(work))
    assert set(got) == set(want)
    for k, (is_dup, dup_of, jac) in want.items():
        g = got[k]
        assert g[0] == is_dup, (k, g, (is_dup, dup_of, jac))
        assert g[1] == dup_of, (k, g, (is_dup, dup_of, jac))
        assert abs(g[2] - jac) < 1e-6, (k, g, jac)
    # the planted long near-dups were flagged, originals were not
    flagged = {k[0] for k, v in got.items() if v[0]}
    base = read_sequence_table(spark, src)
    long_perturbed = {
        r["doc_id"]
        for r in base.filter(
            F.col("doc_id").endswith("_b") & (F.col("n_tok") >= 32)
        ).collect()
    }
    assert long_perturbed and long_perturbed <= flagged
    assert not any((not d.endswith("_b")) for d in flagged) or True  # originals may
    # collide only via their own perturbed twins' buckets — owners are
    # first arrivals, so originals are never flagged against later rows
    originals_flagged = {d for d in flagged if not d.endswith("_b")}
    assert not originals_flagged


def test_neardup_job_exactly_once_resume(spark, tmp_path):
    src = _planted_source(spark, tmp_path, seed=43)
    q, sink_full = run_neardup_job(
        spark, src, str(tmp_path / "full"), max_files_per_trigger=1
    )
    q.processAllAvailable()
    q.stop()
    want = sorted(tuple(r) for r in sink_full.read(spark).collect())
    assert len(want) > 0

    work = str(tmp_path / "resumed")
    q2, _ = run_neardup_job(spark, src, work, max_files_per_trigger=1)
    stop_after_batch(q2, 2)  # kill mid-stream

    q3, sink3 = run_neardup_job(spark, src, work, max_files_per_trigger=1)
    q3.processAllAvailable()
    q3.stop()
    assert sorted(tuple(r) for r in sink3.read(spark).collect()) == want


def test_neardup_replay_does_not_self_flag(spark, tmp_path):
    """Byte-identical replays (at-least-once upstream: every file
    duplicated) must NOT flip the original's verdict to 'dup of itself' —
    regression for the owner-self-match bug caught by review."""
    import shutil

    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 400, seed=47, n_files=2, rows_per_sec=2)
    shutil.copytree(src, src + "/replay")
    q, sink = run_neardup_job(spark, src, str(tmp_path / "work"), max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()
    rows = sink.read(spark).collect()
    assert len(rows) > 0
    self_flagged = [r for r in rows if r["dup_of"] == r["doc_id"]]
    assert not self_flagged
    # no near-dups planted: nothing may be flagged at all
    assert not [r for r in rows if r["is_dup"]]
