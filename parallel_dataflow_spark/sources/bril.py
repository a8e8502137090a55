"""Bril text parser + corpus loader.

The reference's inputs are 119 ``.bril`` programs (``core/`` 53, ``rand/``
51, ``rand_small/`` 10, ``rand_multi_func/`` 5) parsed via bril2json at
utils/src/dataflow_executor.rs:30-35 and turned into per-function CFGs by
bril-utils' ``CFG::from`` (callsites :61,:84). This module re-implements
that front end from the public Bril text grammar (capra.cs.cornell.edu/bril)
so the fixpoint engine runs on the reference's *actual* corpus:

- ``parse_bril_text``: text → functions (name, typed args, instr stream);
  the corpus uses only the core language over ``int``/``bool`` (verified:
  opcode tally in SURVEY.md §1.1 — no floats, pointers, or memory ops).
- ``form_blocks`` / ``build_cfg``: the standard CS 6120 basic-block
  construction — labels and terminators (br/jmp/ret) delimit blocks,
  fall-through edges between consecutive blocks, block 0 is the entry,
  exits are blocks with no successors. A label immediately followed by
  another label yields an EMPTY labeled block that falls through (the
  fuzzed corpus has many, e.g. rand_multi_func/rand0.bril `.block.0:`).
  bril-utils' exact block numbering is not vendored in the snapshot; this
  construction is the canonical one its call sites imply (block.idx used
  as the ReachingDefs def site, reaching_defs.rs:56).
- ``corpus_frames``: all programs under one or more corpus dirs as the
  engine's (blocks, edges) pandas frames, ``func_id = "<file>::<func>"``,
  with per-function ``fargs`` (ReachingDefs seeds them as defs at block 0,
  reaching_defs.rs:23-31). A missing or empty corpus dir raises
  ``BrilCorpusNotFound``.

Instruction dicts carry {op, dest, args, value, type}; labels/funcs
operands are kept out of ``args`` (bril_rs ``Instruction`` separates
args / funcs / labels — e.g. ``br cond .a .b`` has args=[cond] only, so
LiveVars never treats a label as a variable).
"""

from __future__ import annotations

import re
from pathlib import Path

import pandas as pd

TERMINATORS = {"br", "jmp", "ret"}

# ConstProp's transfer (passes/src/const_prop.rs:47-68) is NON-monotone:
# an argument absent from the IN env folds the dest to Any, and when the
# argument later becomes a constant the dest flips Any→const. On these two
# fuzzed programs the worklist oscillates forever between two lattice
# states (verified empirically with the exact LinkedList schedule of
# impls/src/sequential.rs:26-48 — blocks 69-72 of rand16 flip with period
# 2). The reference's own `make test` comment targets core/ only
# (impls/src/bin/test.rs:73-74) and its perf harness EXCLUDES ConstProp
# (impls/src/bin/perf.rs:79,133), so the reference never demonstrably
# terminates here either; blog/blog.md:94 raises the termination question.
# Corpus sweeps skip const_prop on these functions (rand16's body also
# appears inside the multi-function file rand_multi_func/rand4.bril).
#
# The same non-monotonicity makes const_prop ORDER-SENSITIVE on further
# fuzzed programs: rand20/25/27/35/40 converge under the FIFO schedule but
# reach different fixpoints under an RPO-priority schedule, and the BSP
# round schedule fails to converge on rand20 within 400 supersteps
# (verified empirically). The reference's parallel executor has the same
# round schedule and its differential test only demonstrably ran core/
# (test.rs:73-74), where all four passes are schedule-robust — our
# distributed-executor differentials for const_prop therefore run on
# core/ (tests/test_bril_corpus.py), matching the reference's evidence.
NON_TERMINATING_CONST_PROP = {
    "rand/rand16::main",
    "rand/rand48::main",
    "rand_multi_func/rand4::rand16",
}

_FUNC_RE = re.compile(
    r"^@([A-Za-z_][\w.]*)\s*(?:\(([^)]*)\))?\s*(?::\s*[\w<>]+)?\s*\{"
)
_LABEL_RE = re.compile(r"^\.([\w.]+)\s*:$")
_ASSIGN_RE = re.compile(r"^(\S+?)\s*:\s*(\S+)\s*=\s*(.+)$")


def _strip_comment(line: str) -> str:
    # '#' starts a comment; the corpus has no string literals
    i = line.find("#")
    return line if i < 0 else line[:i]


def _parse_operands(tokens: list[str]) -> tuple[list[str], list[str], list[str]]:
    """Split operand tokens into (args, funcs, labels) the way bril2json
    does: '@'-prefixed → funcs, '.'-prefixed → labels, rest → args."""
    args, funcs, labels = [], [], []
    for t in tokens:
        if t.startswith("@"):
            funcs.append(t[1:])
        elif t.startswith("."):
            labels.append(t[1:])
        else:
            args.append(t)
    return args, funcs, labels


def _instr_from_stmt(stmt: str) -> dict:
    m = _ASSIGN_RE.match(stmt)
    if m:
        dest, typ, rhs = m.group(1), m.group(2), m.group(3)
        toks = rhs.split()
        op, operands = toks[0], toks[1:]
        if op == "const":
            raw = operands[0]
            if raw in ("true", "false"):
                value = raw
                typ = "bool"
            else:
                value = str(int(raw))  # canonicalize (CanonicalizeLiterals)
            return {"op": "const", "dest": dest, "args": [], "labels": [],
                    "value": value, "type": typ}
        if "@" in op:  # glued form `call@fn arg` (core/sqrt.bril style)
            op, fn = op.split("@", 1)
            operands = ["@" + fn] + operands
        args, _funcs, labels = _parse_operands(operands)
        return {"op": op, "dest": dest, "args": args, "labels": labels,
                "value": None, "type": typ}
    toks = stmt.split()
    op, operands = toks[0], toks[1:]
    if "@" in op:
        op, fn = op.split("@", 1)
        operands = ["@" + fn] + operands
    args, _funcs, labels = _parse_operands(operands)
    return {"op": op, "dest": None, "args": args, "labels": labels,
            "value": None, "type": None}


def parse_bril_text(text: str) -> list[dict]:
    """→ [{name, args: [argname, ...], instrs: [instr-or-label dict, ...]}]
    where a label item is {"label": name}."""
    funcs: list[dict] = []
    cur: dict | None = None
    for raw in text.splitlines():
        line = _strip_comment(raw).strip()
        if not line:
            continue
        if line.startswith("@"):
            m = _FUNC_RE.match(line)
            if not m:
                raise ValueError(f"unparseable function header: {raw!r}")
            argnames = []
            if m.group(2):
                for part in m.group(2).split(","):
                    part = part.strip()
                    if part:
                        argnames.append(part.split(":")[0].strip())
            cur = {"name": m.group(1), "args": argnames, "instrs": []}
            funcs.append(cur)
            continue
        if line == "}":
            cur = None
            continue
        if cur is None:
            raise ValueError(f"statement outside function: {raw!r}")
        lm = _LABEL_RE.match(line)
        if lm:
            cur["instrs"].append({"label": lm.group(1)})
            continue
        for stmt in line.split(";"):
            stmt = stmt.strip()
            if stmt:
                cur["instrs"].append(_instr_from_stmt(stmt))
    return funcs


def form_blocks(instrs: list[dict]) -> list[dict]:
    """Canonical CS 6120 basic-block formation → [{label, instrs}]."""
    blocks: list[dict] = []
    cur: dict | None = None
    for item in instrs:
        if "label" in item:
            if cur is not None:
                blocks.append(cur)
            cur = {"label": item["label"], "instrs": []}
        else:
            if cur is None:
                cur = {"label": None, "instrs": []}
            cur["instrs"].append(item)
            if item["op"] in TERMINATORS:
                blocks.append(cur)
                cur = None
    if cur is not None:
        blocks.append(cur)
    return blocks


def build_cfg(blocks: list[dict]) -> list[tuple[int, int]]:
    """Edges by block index: jmp/br → label targets, ret → none, otherwise
    fall-through to the next block. Duplicate br targets collapse."""
    label_to_idx = {b["label"]: i for i, b in enumerate(blocks) if b["label"]}
    edges: set[tuple[int, int]] = set()
    for i, b in enumerate(blocks):
        last = b["instrs"][-1] if b["instrs"] else None
        op = last["op"] if last else None
        if op in ("jmp", "br"):
            for lbl in last["labels"]:
                edges.add((i, label_to_idx[lbl]))
        elif op == "ret":
            pass
        elif i + 1 < len(blocks):
            edges.add((i, i + 1))
    return sorted(edges)


def _engine_instr(ins: dict) -> dict:
    return {
        "op": ins["op"],
        "dest": ins["dest"],
        "args": ins["args"],
        "value": ins["value"],
        "type": ins["type"],
    }


def program_rows(text: str, prog_id: str) -> tuple[list[dict], list[dict]]:
    """One program's (block rows, edge rows) in the engine schema."""
    block_rows, edge_rows = [], []
    for fn in parse_bril_text(text):
        fid = f"{prog_id}::{fn['name']}"
        blocks = form_blocks(fn["instrs"])
        if not blocks:  # a function with an empty body still has one block
            blocks = [{"label": None, "instrs": []}]
        edges = build_cfg(blocks)
        has_succ = {s for s, _ in edges}
        for i, b in enumerate(blocks):
            block_rows.append(
                {
                    "func_id": fid,
                    "block_id": i,
                    "is_entry": i == 0,
                    "is_exit": i not in has_succ,
                    "instrs": [_engine_instr(x) for x in b["instrs"]],
                    "fargs": list(fn["args"]),
                }
            )
        for s, d in edges:
            edge_rows.append({"func_id": fid, "src": s, "dst": d})
    return block_rows, edge_rows


class BrilCorpusNotFound(FileNotFoundError):
    """A requested corpus subdirectory is missing or holds no ``.bril``
    program."""


def corpus_files(root: str | Path, subdirs: tuple[str, ...]) -> list[Path]:
    """The ``.bril`` files of each subdirectory, sorted per subdirectory.
    Raises ``BrilCorpusNotFound`` naming the first subdirectory that is
    missing or empty, so an absent corpus fails where it is read."""
    out: list[Path] = []
    for sub in subdirs:
        path = Path(root) / sub
        files = sorted(path.glob("*.bril"))
        if not files:
            raise BrilCorpusNotFound(
                f"Bril corpus directory {path} is missing or holds no .bril file"
            )
        out.extend(files)
    return out


def corpus_frames(
    root: str | Path = "/root/reference",
    subdirs: tuple[str, ...] = ("core", "rand", "rand_small", "rand_multi_func"),
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The whole corpus as (blocks, edges) pandas frames; prog_id =
    '<subdir>/<stem>'. Reads the reference snapshot read-only. Raises
    ``BrilCorpusNotFound`` (a ``FileNotFoundError``) naming the path when
    a requested subdirectory is missing or holds no ``.bril`` file; every
    subdirectory of the full corpus holds programs."""
    blocks, edges = [], []
    for path in corpus_files(root, subdirs):
        prog_id = f"{path.parent.name}/{path.stem}"
        b, e = program_rows(path.read_text(), prog_id)
        blocks.extend(b)
        edges.extend(e)
    return pd.DataFrame(blocks), pd.DataFrame(edges)


def corpus_dataframes(spark, root="/root/reference", subdirs=("core",)):
    from parallel_dataflow_spark.sources.cfg_fixtures import (
        BLOCKS_SCHEMA,
        EDGES_SCHEMA,
    )

    bl, ed = corpus_frames(root, subdirs)
    return (
        spark.createDataFrame(bl, schema=BLOCKS_SCHEMA),
        spark.createDataFrame(ed, schema=EDGES_SCHEMA),
    )
