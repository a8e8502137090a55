"""Expected outputs computed without the code being measured.

- Batch queries: DuckDB over the same parquet files, using the SQL twins
  in ``plans.registry.ORACLE_SQL``. Two headline queries are computed in
  Python instead: ``knn_cosine_bruteforce_pandas`` has no twin (numpy
  top-5 cosine), and the all-pairs twin of ``dedup_minhash_lsh`` is too
  slow (exact Jaccard through an inverted index).
- CEP: a plain-Python NFA over the generated rows.

References are computed untimed and cached on disk by workload, seed and
size, so a repeated seed skips the work. Results are compared as sorted
rows, floats within a fixed tolerance.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np

FLOAT_ABS_TOL = 0.02  # outputs are rounded to 2-6 decimals; sums differ in order
FLOAT_REL_TOL = 1e-9


def _plain(v):
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def normalize(rows) -> list[list]:
    """Rows as JSON-able lists, sorted by their non-float fields (every
    checked query has a key among those) and then by the floats."""
    out = [[_plain(v) for v in r] for r in rows]

    def key(r):
        return (
            [str(v) for v in r if not isinstance(v, float)],
            [v for v in r if isinstance(v, float)],
        )

    return sorted(out, key=key)


def rows_match(got: list[list], want: list[list]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    return False
                if not math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=FLOAT_ABS_TOL):
                    return False
            elif a != b:
                return False
    return True


class Cache:
    """JSON files under one directory, keyed by name."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get_or_compute(self, key: str, compute):
        path = os.path.join(self.root, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        tmp = path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value


# -- batch ------------------------------------------------------------------

def duckdb_rows(data_dir: str, sql: str) -> list[list]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for name in os.listdir(data_dir):
            if name.endswith(".parquet"):
                path = os.path.join(data_dir, name).replace("'", "''")
                con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        return normalize(con.execute(sql).fetchall())
    finally:
        con.close()


def jaccard_pairs(data_dir: str, threshold: float = 0.7) -> list[list]:
    """Document pairs whose distinct word-3-gram sets (lower-cased text
    split on whitespace) have Jaccard >= ``threshold`` after rounding to 4
    places: the result of the brute-force DuckDB twin of
    ``dedup_minhash_lsh``, computed through an inverted index instead of
    an all-pairs join (70 s in DuckDB at 1000 documents)."""
    import re

    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    shingles: dict[int, set[str]] = {}
    for doc, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        w = re.split(r"\s+", text.strip(" ").lower())
        shingles[doc] = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    postings: dict[str, list[int]] = {}
    for doc in sorted(shingles):
        for sh in shingles[doc]:
            postings.setdefault(sh, []).append(doc)
    common: dict[tuple[int, int], int] = {}
    for docs in postings.values():
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                common[(a, b)] = common.get((a, b), 0) + 1
    rows = []
    for (a, b), inter in common.items():
        j = round(inter / max(len(shingles[a]) + len(shingles[b]) - inter, 1), 4)
        if j >= threshold:
            rows.append((a, b, j))
    return normalize(rows)


def knn_rows(data_dir: str, n_queries: int = 5, k: int = 5) -> list[list]:
    """Top-k cosine neighbours of vec_id < n_queries among the others, as
    (query_id, vec_id, cosine rounded to 6, rank)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    mat = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    is_q = ids < n_queries
    cand_ids, cand = ids[~is_q], mat[~is_q]
    rows = []
    for qid, qv in zip(ids[is_q], mat[is_q]):
        sims = cand @ qv
        order = sorted(range(len(cand_ids)), key=lambda i: (-sims[i], cand_ids[i]))[:k]
        for rank, i in enumerate(order, start=1):
            rows.append((int(qid), int(cand_ids[i]), round(float(sims[i]), 6), rank))
    return normalize(rows)


# -- CEP --------------------------------------------------------------------

def sink_rows(base_dir: str, key: tuple[str, ...]) -> list[list]:
    """The resolved contents of an epoch-per-directory keyed sink, read
    with pyarrow: for each key, the row of the highest epoch."""
    import pyarrow.dataset as ds

    t = ds.dataset(base_dir, format="parquet", partitioning="hive").to_table()
    cols = [c for c in t.column_names if c not in ("__epoch", "epoch")]
    latest: dict[tuple, tuple[int, tuple]] = {}
    for row in t.to_pylist():
        k = tuple(row[c] for c in key)
        if k not in latest or row["__epoch"] > latest[k][0]:
            latest[k] = (row["__epoch"], tuple(row[c] for c in cols))
    return normalize(v for _, v in latest.values())


def _row_checksum(tokens) -> int:
    """60-bit md5 of the comma-joined token ids: the tie-break the CEP
    operator documents for rows of one key with equal timestamps."""
    digest = hashlib.md5(",".join(str(int(t)) for t in tokens).encode()).hexdigest()
    return int(digest[:15], 16)


def cep_matches(
    doc_ids, event_us, token_lists, steps: list[set[int]], gap_s: int, max_partials: int
) -> list[list]:
    """Skip-till-next-match NFA per key over rows in (event time,
    checksum) order. A partial match expires when the next row comes more
    than ``gap_s`` after its last row; each row first advances every live
    partial it satisfies (oldest first), then may start a new partial if
    fewer than ``max_partials`` are live. Returns distinct
    (doc_id, start_us, end_us, n_steps) rows."""
    gap_us = gap_s * 1_000_000
    n_steps = len(steps)
    by_doc: dict[str, list[tuple[int, int, int]]] = {}
    for doc, ts, toks in zip(doc_ids, event_us, token_lists):
        hit = 0
        tokset = set(int(t) for t in toks)
        for i, step in enumerate(steps):
            if tokset & step:
                hit |= 1 << i
        by_doc.setdefault(doc, []).append((int(ts), _row_checksum(toks), hit))
    out = set()
    for doc, rows in by_doc.items():
        rows.sort()
        partials: list[list[int]] = []  # [next_step, start_us, last_us]
        for ts, _ck, hit in rows:
            partials = [p for p in partials if ts - p[2] <= gap_us]
            still = []
            for p in partials:
                if hit >> p[0] & 1:
                    p[0] += 1
                    p[2] = ts
                    if p[0] == n_steps:
                        out.add((doc, p[1], ts, n_steps))
                        continue
                still.append(p)
            partials = still
            if hit & 1 and len(partials) < max_partials:
                if n_steps == 1:
                    out.add((doc, ts, ts, 1))
                else:
                    partials.append([1, ts, ts])
    return normalize(out)
