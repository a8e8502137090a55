"""Seeded generator for the batch workload's TPC-H-ish tables.

Writes the nine tables the headline queries read (region, nation,
customer, supplier, orders, lineitem, events, documents, embeddings) as
one parquet file each, with the column names, types and value ranges of
the repository's test data. Table sizes depend only on ``sf``; values
depend on ``seed``, so the same seed always gives the same files.

The documents table plants exact duplicates (same text up to case and
whitespace) and near duplicates (one word changed in a long document) so
the dedup queries have real work; every planted near-duplicate pair has a
word-3-gram Jaccard far above the 0.7 threshold, and unrelated documents
far below it, so banded LSH finds the same pairs as brute force.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh")
WORDS = (
    "agg batch big column customer data fast filter group hash index join key "
    "line merge node order part query row scan shuffle slow small sort spark "
    "stage stream table task value vector window worker page cache disk plan "
    "sink state"
).split()
EMBED_DIM = 64

BASE_DATE = np.datetime64("1995-01-01", "D")
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((BASE_DATE + days).astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.03:
            # exact duplicate of an earlier doc, with case/space noise the
            # fingerprint normalises away
            src = texts[int(rng.integers(0, i))]
            texts.append("  " + src.upper().replace(" ", "   ") + " ")
            continue
        if i >= 10 and r < 0.06:
            src = texts[int(rng.integers(0, i))].lower().split()
            if len(src) >= 40:
                pos = int(rng.integers(0, len(src)))
                src[pos] = "edited"
                texts.append(" ".join(src))
                continue
        n_words = int(rng.integers(20, 90))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n_words)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.asarray([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = (centroids[labels] + rng.normal(0.0, 0.6, (n, EMBED_DIM))).astype(np.float32)
    flat = pa.array(vecs.ravel(), type=pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def generate_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(np.random.PCG64(seed))
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.asarray(("F", "O", "P"))[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(rng.integers(0, 2404, n_ord)),
            "o_orderpriority": pa.array(np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, max(100, int(200_000 * sf)), n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.asarray(("A", "N", "R"))[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.asarray(("F", "O"))[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(rng.integers(1, 2500, n_li)),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(EVENTS_T0 + ev_us.astype("timedelta64[us]"), type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": pa.array(np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": pa.array(_money(rng, 0.0, 560.0, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, max(200, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(200, int(20_000 * sf)))
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Generate and write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

