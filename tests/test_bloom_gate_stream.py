"""The bloomgate deployable (18th): streaming Bloom contamination
gate. The calibrated filter is a BLOOM_WORDS-integer array literal in the
plan, so flagging is scan-side and exactly deterministic — stream must
equal the batch twin row for row, never miss a true contamination
(one-sidedness), and survive kill/resume with different batching."""

from pyspark.sql import functions as F

from parallel_dataflow_spark.sources.sequences import write_sequence_table
from parallel_dataflow_spark.streaming.jobs import calibrate_bloom_filter, golden, run
from tests.conftest import stop_after_batch


def canon(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "source", "window_start", "docs_flagged", "docs_clean", "grams_hit"
        ).collect()
    )


def test_bloom_gate_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    write_sequence_table(spark, src, 1500, seed=23, n_files=6, rows_per_sec=2)
    words = calibrate_bloom_filter(spark, src, bench_source="wiki")
    assert len(words) == 512 and any(w != 0 for w in words)

    q, sink = run("bloomgate", spark, src, str(tmp_path / "full"), bloom_words=words)
    q.processAllAvailable()
    q.stop()
    got = canon(sink.read(spark))

    want = canon(golden("bloomgate", spark, src, bloom_words=words))
    assert got == want
    flagged = sum(r[2] for r in want)
    clean = sum(r[3] for r in want)
    assert flagged > 0 and clean > 0, "the gate must actually split the stream"

    # one-sidedness: every benchmark-source row's trigrams are IN the
    # filter, so a wiki row with >= 3 tokens can never land in docs_clean
    from parallel_dataflow_spark.sources.sequences import read_sequence_table
    from parallel_dataflow_spark.streaming.jobs import _bloom_gram_hits

    wiki = read_sequence_table(spark, src).filter(
        (F.col("source") == "wiki") & (F.size("tokens") >= 3)
    )
    missed = wiki.withColumn("h", _bloom_gram_hits(words)).filter(
        F.col("h") == 0
    ).count()
    assert missed == 0

    # kill mid-stream, resume with the same filter — flagging is a
    # deterministic scan-side expression, so the update-mode window agg
    # plus the latest-wins keyed sink replay to the identical table
    work = str(tmp_path / "resume")
    q2, _ = run(
        "bloomgate", spark, src, work, bloom_words=words, max_files_per_trigger=1
    )
    stop_after_batch(q2, 2)

    q3, sink3 = run(
        "bloomgate", spark, src, work, bloom_words=words, max_files_per_trigger=1
    )
    q3.processAllAvailable()
    q3.stop()
    assert canon(sink3.read(spark)) == want
