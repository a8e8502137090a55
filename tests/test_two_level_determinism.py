"""Determinism across parallelism levels (SURVEY.md §5 plan #1 — the
direct heir of the reference's differential executor test, test.rs:21-70):
the same query at local[8] and local[32] must produce identical canonical
rows. The local[32] leg runs in a fresh subprocess (own JVM) so the two
levels share nothing but the code and the input; it imports the package
from the checkout under test. The probe records each query's local[32]
result on its own, a hash or the error the query raised, so one query
that fails (e.g. on a missing input) fails only its own test."""

import json
import subprocess
import sys

import pytest

from tests.conftest import REPO

QUERIES = [
    "q1_pricing_summary",          # partial/final hash agg
    "topk_orders_per_customer",    # window + sort tiebreaks
    "events_session_5m",           # session windows
    "dedup_minhash_lsh",           # pandas UDF + band join + dedup
    "dataflow_reaching_defs_bril", # fixpoint over the real corpus
    "cep_token_pattern_stream",    # streaming NFA: keyed state, watermark
                                   # release, sink read-back — the north
                                   # rule's output-independent-of-
                                   # parallelism property on the REAL
                                   # streaming path
    "dedup_clusters",              # iterative connected components: round
                                   # count and label flow must not depend
                                   # on partitioning (extra tier)
    "pipeline_clean_corpus",       # composed filter+dedup-keeper plan
    "events_asof_prior_click",     # window-pass as-of join tie-breaks
    "bigram_logprob_docs",         # two-level agg + broadcast LM join
    "knn_pq_adc_top5",             # PQ training means fold floats in
                                   # partition order — the 6-dp rounding
                                   # contract must absorb it at any level
    "dedup_exact_substring",       # gram join + diagonal islands merge
    "knn_ivf_pq_top5",             # coarse + PQ Lloyd means both fold in
                                   # partition order under the 6-dp contract
    "resample_uniform_mix",        # rate doubles from exact int64 totals;
                                   # hash acceptance partition-independent
    "bpe_train_merges",            # per-merge argmax over a distributed
                                   # pair count: the (count, lhs, rhs)
                                   # total order must absorb partial-agg
                                   # combining order at any level
    "quota_admission_events",      # window cumsum admission: (ts, ck)
                                   # order contract vs partition count
    "semdedup_embeddings",         # kmeans float folds + within-cluster
                                   # pairwise cosine: the 6-dp contract
                                   # must hold through the dedup rule
    "dsir_select_docs",            # BIGINT micro-nat weight sums must be
                                   # exactly fold-order-independent
    "dedup_c4_spans",              # global keep-first window + map-side
                                   # text rebuild vs partitioning
    "sketch_hll_users",            # BIGINT register folds: the sketch
                                   # itself (not just the estimate) must
                                   # be partition-count-independent
    "perplexity_buckets",          # micro-nat LM scores + per-lang ntile:
                                   # tercile boundaries vs parallelism
    "chunk_fixed_blocks",          # prefix-sum offsets + bounded explode:
                                   # block layout vs partitioning
    "sketch_bloom_contamination",  # bit_or word folds: the filter — and
                                   # therefore every hash-dependent false
                                   # positive — must be byte-identical at
                                   # any parallelism
    "corpus_overlap_kmv",          # bottom-K sketches + union re-rank:
                                   # pair estimates vs partitioning
    "bloom_semi_join_orders",      # literal-baked bloom scan filter +
                                   # exact semi-join: pruning must never
                                   # change the result at any level
    "dup_ngram_fraction",          # hashed-gram df window + micro-unit
                                   # ratio: counts and floor'd ppm vs
                                   # partitioning
    "quantile_hist_value",         # fixed-grid histogram: bucket ids and
                                   # lower-edge estimates vs parallelism
    "epoch_shuffle_manifest",      # sharded seeded sort: row_number with
                                   # (sk, doc_id) tiebreak must be total
    "quality_linear_score",        # integer-weight linear gate: exact
                                   # cross-multiply threshold, no floats
    "vocab_growth_curve",          # min-agg first-seen + curve-sized
                                   # running sums vs partitioning
    "pagerank_word_graph",         # 3-step integer rank recurrence:
                                   # per-edge div + BIGINT sums must be
                                   # fold-order-independent
    "funnel_view_click_purchase",  # chained conditional window mins:
                                   # ordered-stage timestamps vs
                                   # partitioning
    "sessionize_events_gap",       # lag + cumsum session ids: same-second
                                   # tie-breaks vs partitioning
    "retention_daily_cohorts",     # first-seen min-agg + distinct matrix
                                   # vs partitioning
    "skew_report_sources",         # rank-weighted integer Gini: order +
                                   # BIGINT folds vs partitioning
    "unigram_entropy_by_source",   # vocab-bounded ln terms + weighted
                                   # float fold at 4dp vs partitioning
    "burstiness_event_rate",       # exact-integer dispersion identity
                                   # vs partitioning
    "unigram_segment_words",       # Viterbi DP over a collected vocab
                                   # literal: vocab derivation + path
                                   # choices vs partitioning
    "event_type_affinity",         # distinct pair join + integer lift
                                   # vs partitioning
    "orders_rfm_segments",         # 2dp-rounded rank keys + tiebroken
                                   # ntiles vs partitioning
]

_PROBE = r"""
import sys, json, hashlib
sys.path.insert(0, sys.argv[2])
from parallel_dataflow_spark.session import get_spark
from parallel_dataflow_spark.plans.registry import QUERIES, EXTRA_QUERIES
REG = {**QUERIES, **EXTRA_QUERIES}

spark = get_spark("det32", master="local[32]", shuffle_partitions=32)
out = {}
for name in json.loads(sys.argv[1]):
    try:
        rows = sorted(tuple(str(x) for x in r) for r in REG[name](spark, "/root/testdata/sf0.01").collect())
    except Exception as e:
        out[name] = {"error": f"{type(e).__name__}: {e}"}
        continue
    out[name] = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
print("RESULT " + json.dumps(out))
"""


@pytest.fixture(scope="module")
def level32_hashes():
    res = subprocess.run(
        [sys.executable, "-c", _PROBE, json.dumps(QUERIES), REPO],
        capture_output=True,
        text=True,
        timeout=600,
    )
    for line in res.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"level-32 probe failed: {res.stderr[-1500:]}")


@pytest.mark.parametrize("name", QUERIES)
def test_query_identical_across_levels(spark, level32_hashes, name):
    import hashlib

    from parallel_dataflow_spark.plans.registry import EXTRA_QUERIES, QUERIES as _Q

    REG = {**_Q, **EXTRA_QUERIES}

    h32 = level32_hashes[name]
    if isinstance(h32, dict):
        pytest.fail(f"{name}: local[32] probe raised {h32['error']}")
    rows = sorted(
        tuple(str(x) for x in r)
        for r in REG[name](spark, "/root/testdata/sf0.01").collect()
    )
    h8 = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    assert h8 == level32_hashes[name], f"{name}: local[8] != local[32]"
