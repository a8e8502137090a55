"""Differential parity over the reference's REAL corpus: all 119 .bril
programs under /root/reference/{core,rand,rand_small,rand_multi_func}
(read-only), exactly the sweep of impls/src/bin/test.rs:89-101 — every
pass on every program, distributed executors vs the sequential golden.

const_prop skips the functions in NON_TERMINATING_CONST_PROP (the
reference's non-monotone transfer oscillates there — see bril.py).
"""

import pandas as pd
import pytest

from parallel_dataflow_spark.operators.fixpoint import (
    SPECS,
    golden_rows,
    run_across_functions,
    run_bsp,
    run_mixed,
)
from parallel_dataflow_spark.sources.bril import (
    NON_TERMINATING_CONST_PROP,
    BrilCorpusNotFound,
    corpus_frames,
    parse_bril_text,
)
from parallel_dataflow_spark.sources.cfg_fixtures import BLOCKS_SCHEMA, EDGES_SCHEMA

PASSES = sorted(SPECS)


@pytest.fixture(scope="module")
def corpus():
    bl, ed = corpus_frames()
    return bl, ed


def _filter_cp(bl: pd.DataFrame, ed: pd.DataFrame, pass_name: str):
    if pass_name != "const_prop":
        return bl, ed
    return (
        bl[~bl.func_id.isin(NON_TERMINATING_CONST_PROP)],
        ed[~ed.func_id.isin(NON_TERMINATING_CONST_PROP)],
    )


def test_parse_full_corpus(corpus):
    bl, ed = corpus
    progs = bl.func_id.str.split("::").str[0]
    assert progs.nunique() == 119  # core 53 + rand 51 + rand_small 10 + multi 5
    assert bl.func_id.nunique() == 217
    ops = {i["op"] for instrs in bl.instrs for i in instrs}
    assert ops <= {
        "add", "and", "br", "call", "const", "div", "eq", "ge", "gt", "id",
        "jmp", "le", "lt", "mul", "nop", "not", "or", "print", "ret", "sub",
    }
    # every function has exactly one entry; edges reference real blocks
    per_func = bl.groupby("func_id").is_entry.sum()
    assert (per_func == 1).all()
    keys = set(zip(bl.func_id, bl.block_id))
    assert all((f, s) in keys and (f, d) in keys for f, s, d in zip(ed.func_id, ed.src, ed.dst))


def test_parse_gcd_shape():
    text = open("/root/reference/core/gcd.bril").read()
    fns = parse_bril_text(text)
    assert [f["name"] for f in fns] == ["main"]
    assert fns[0]["args"] == ["op1", "op2"]
    labels = [i["label"] for i in fns[0]["instrs"] if "label" in i]
    assert labels[0] == "cmp.val" and "program.end" in labels


@pytest.mark.parametrize("pass_name", PASSES)
def test_across_functions_matches_golden_full_corpus(spark, corpus, pass_name):
    """The reference's differential test shape (test.rs:21-70): the
    distributed across-functions executor must match the sequential golden
    on every function of every corpus program — one Spark job per pass."""
    bl, ed = _filter_cp(*corpus, pass_name)
    blocks = spark.createDataFrame(bl, schema=BLOCKS_SCHEMA)
    edges = spark.createDataFrame(ed, schema=EDGES_SCHEMA)
    got = sorted(
        tuple(r)
        for r in run_across_functions(blocks, edges, SPECS[pass_name]).collect()
    )
    want = golden_rows(bl, ed, SPECS[pass_name])
    assert len(got) == len(want)
    # pinpoint the first differing function like test.rs:37-62
    if got != want:
        for g, w in zip(got, want):
            assert g == w, f"first mismatch at func={w[0]} block={w[1]}"


BSP_PROGS = ("core/gcd", "core/totient", "core/fizz-buzz")


@pytest.mark.parametrize(
    "pass_name", ["reaching_defs", "live_vars", "const_prop", "available_exprs"]
)
def test_bsp_matches_golden_core_sample(spark, corpus, pass_name):
    """BSP rounds (the reference's parallel executor) on real loopy core
    programs — all four passes. (BSP pays one Spark superstep per round,
    so the corpus sample is small; fixtures cover the rest. const_prop is
    core/-only by necessity: its non-monotone transfer makes fuzzed
    programs schedule-sensitive — see bril.py NON_TERMINATING_CONST_PROP.)"""
    bl, ed = corpus
    sel = bl.func_id.str.split("::").str[0].isin(BSP_PROGS)
    bl, ed = bl[sel], ed[ed.func_id.isin(bl[sel].func_id.unique())]
    blocks = spark.createDataFrame(bl, schema=BLOCKS_SCHEMA)
    edges = spark.createDataFrame(ed, schema=EDGES_SCHEMA)
    got = sorted(tuple(r) for r in run_bsp(blocks, edges, SPECS[pass_name]).collect())
    assert got == golden_rows(bl, ed, SPECS[pass_name])


MIXED_PROGS = (
    "core/gcd",          # 9 blocks
    "core/lcm",          # 8
    "core/totient",      # 11
    "core/relative-primes",  # 12 (+gcd 12)
    "core/fizz-buzz",    # 13
    "core/primes-between",   # 14
)


def test_exit_values_core_golden(spark, corpus):
    """exit_val = finish(meet(out[exit blocks])) per function
    (impls/src/sequential.rs:51-58), checked against a hand-rolled golden
    over the core/ corpus."""
    from parallel_dataflow_spark.operators.fixpoint import exit_values

    bl, ed = corpus
    sel = bl.func_id.str.startswith("core/")
    bl, ed = bl[sel], ed[ed.func_id.isin(bl[sel].func_id.unique())]
    spec = SPECS["reaching_defs"]
    rows = golden_rows(bl, ed, spec)
    outs = {(r[0], r[1]): r[3] for r in rows}
    want = {}
    for fid, fb in bl.groupby("func_id"):
        exits = sorted(fb[fb.is_exit].block_id.tolist())
        want[fid] = spec.finish(spec.meet(sorted(outs[(fid, b)] for b in exits)))

    blocks = spark.createDataFrame(bl, schema=BLOCKS_SCHEMA)
    edges = spark.createDataFrame(ed, schema=EDGES_SCHEMA)
    res = run_across_functions(blocks, edges, spec)
    got = {r["func_id"]: r["exit_val"] for r in exit_values(res, blocks, spec).collect()}
    assert got == want


@pytest.mark.parametrize("threshold", [10, 15, 20, 25, 30])
def test_mixed_threshold_sweep(spark, corpus, threshold):
    """The reference differential-tests mixed-{10,15,20,25,30}
    (impls/src/passes.rs:74-78, test.rs:93-99). At threshold 10 the
    11-14-block functions route through BSP; at 15+ everything takes the
    in-task kernel — both paths must match the golden."""
    bl, ed = corpus
    sel = bl.func_id.str.split("::").str[0].isin(MIXED_PROGS)
    bl, ed = bl[sel], ed[ed.func_id.isin(bl[sel].func_id.unique())]
    blocks = spark.createDataFrame(bl, schema=BLOCKS_SCHEMA)
    edges = spark.createDataFrame(ed, schema=EDGES_SCHEMA)
    got = sorted(
        tuple(r)
        for r in run_mixed(blocks, edges, SPECS["reaching_defs"], threshold=threshold).collect()
    )
    assert got == golden_rows(bl, ed, SPECS["reaching_defs"])


# ---------------------------------------------------------------------------
# ConstProp beyond core/: the transfer is NON-monotone (bril.py
# NON_TERMINATING_CONST_PROP), so distributed-schedule coverage on fuzzed
# programs must be scoped to where the BSP schedule provably converges.
# The boundary is established by an exact pure-python simulation of
# run_bsp's superstep semantics (same meet-sorted inputs, same
# requeue-on-out-change rule), then one convergent program is run through
# the REAL Spark BSP executor.
# ---------------------------------------------------------------------------

# classified by _bsp_schedule_sim below (asserted in the test): under the
# BSP (jacobi-style) schedule these five rand_small programs converge to
# the sequential-FIFO fixpoint; the other five oscillate — the same
# schedule-sensitivity the reference inherits from its non-monotone
# ConstProp transfer (passes/src/const_prop.rs:47-68)
RAND_SMALL_CP_CONVERGENT = (
    "rand_small/rand3",
    "rand_small/rand4",
    "rand_small/rand5",
    "rand_small/rand6",
    "rand_small/rand8",
)
RAND_SMALL_CP_OSCILLATING = (
    "rand_small/rand0",
    "rand_small/rand1",
    "rand_small/rand2",
    "rand_small/rand7",
    "rand_small/rand9",
)


def _bsp_schedule_sim(fb: pd.DataFrame, fe: pd.DataFrame, spec, max_rounds=400):
    """Pure-python replica of run_bsp's round semantics (fixpoint.py:
    frontier -> meet(sorted pred outs) -> transfer -> requeue successors of
    blocks whose OUT changed), cheap enough to sweep every program."""
    import collections

    from parallel_dataflow_spark.operators.fixpoint import _fargs_of, _norm_instr

    state_out, state_in, instrs, entry, fargs = {}, {}, {}, {}, {}
    preds = collections.defaultdict(list)
    succs = collections.defaultdict(list)
    for r in fb.itertuples():
        k = (r.func_id, int(r.block_id))
        fa = _fargs_of(r.fargs)
        fargs[k] = fa
        instrs[k] = [_norm_instr(i) for i in r.instrs]
        entry[k] = r.block_id == 0
        state_out[k] = spec.init_val(fa)
        state_in[k] = spec.init_val(fa)
    for r in fe.itertuples():
        preds[(r.func_id, int(r.dst))].append((r.func_id, int(r.src)))
        succs[(r.func_id, int(r.src))].append((r.func_id, int(r.dst)))
    frontier = set(state_out)
    n = 0
    while frontier:
        n += 1
        if n > max_rounds:
            return None
        out_changed = set()
        new = {}
        for k in frontier:
            iv = (
                spec.entry_val(fargs[k])
                if entry[k]
                else spec.meet(sorted(state_out[p] for p in preds[k]))
            )
            ov = spec.transfer(k[1], instrs[k], iv)
            new[k] = (iv, ov)
            if ov != state_out[k]:
                out_changed.add(k)
        for k, (iv, ov) in new.items():
            state_in[k] = iv
            state_out[k] = ov
        frontier = {s for k in out_changed for s in succs[k]}
    return sorted((k[0], k[1], state_in[k], state_out[k]) for k in state_out)


def test_const_prop_bsp_schedule_boundary_rand_small():
    """Classifies ALL 10 rand_small programs under the exact BSP schedule:
    the convergent five must reach the sequential-FIFO fixpoint; the other
    five must provably oscillate (non-monotone transfer). Pins the
    documented coverage boundary instead of just asserting it in prose."""
    spec = SPECS["const_prop"]
    bl, ed = corpus_frames("/root/reference", ("rand_small",))
    for prog in RAND_SMALL_CP_CONVERGENT + RAND_SMALL_CP_OSCILLATING:
        sel = bl.func_id.str.split("::").str[0].eq(prog)
        fb = bl[sel]
        fe = ed[ed.func_id.isin(fb.func_id.unique())]
        res = _bsp_schedule_sim(fb, fe, spec)
        if prog in RAND_SMALL_CP_CONVERGENT:
            assert res is not None, f"{prog} should converge under BSP"
            assert res == sorted(golden_rows(fb, fe, spec)), prog
        else:
            assert res is None, f"{prog} unexpectedly converged under BSP"


def test_const_prop_bsp_spark_rand_small_convergent(spark, corpus):
    """The REAL Spark BSP executor on a convergent fuzzed program
    (rand_small/rand3, 13 rounds) — const_prop distributed-schedule
    coverage beyond core/."""
    bl, ed = corpus
    sel = bl.func_id.str.split("::").str[0].eq("rand_small/rand3")
    fb = bl[sel]
    fe = ed[ed.func_id.isin(fb.func_id.unique())]
    blocks = spark.createDataFrame(fb, schema=BLOCKS_SCHEMA)
    edges = spark.createDataFrame(fe, schema=EDGES_SCHEMA)
    got = sorted(tuple(r) for r in run_bsp(blocks, edges, SPECS["const_prop"]).collect())
    assert got == golden_rows(fb, fe, SPECS["const_prop"])


def test_corpus_frames_missing_dir_names_path(tmp_path):
    """An absent corpus raises a named error at the loader, naming the
    directory, instead of columnless frames that fail far from the cause.
    Needs neither the corpus nor a Spark session."""
    with pytest.raises(BrilCorpusNotFound) as exc:
        corpus_frames(tmp_path)
    assert isinstance(exc.value, FileNotFoundError)
    assert str(tmp_path / "core") in str(exc.value)

    (tmp_path / "core").mkdir()
    (tmp_path / "core" / "one.bril").write_text(
        "@main {\n  v: int = const 1;\n  print v;\n}\n"
    )
    with pytest.raises(BrilCorpusNotFound, match="rand_small"):
        corpus_frames(tmp_path, ("core", "rand_small"))
    bl, ed = corpus_frames(tmp_path, ("core",))
    assert list(bl.func_id.unique()) == ["core/one::main"]
