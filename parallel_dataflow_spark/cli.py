"""spark-submit entry point (SURVEY.md §2.1 #25; reference CLI:
impls/src/bin/main.rs:5-43 — args: pass, executor/algorithm, log, raw).

Usage:
    spark-submit --py-files engine.zip -m parallel_dataflow_spark.cli \\
        dataflow  --pass reaching_defs --executor bsp|seq|mixed-20
    python -m parallel_dataflow_spark.cli query --name q1_pricing_summary \\
        --sf-dir /root/testdata/sf0.01
    python -m parallel_dataflow_spark.cli stream --job tumbling \\
        --input <dir> --work <dir>

The ``mixed-(\\d+)`` executor syntax mirrors the reference's regex form
(impls/src/passes.rs:37-40).
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time


# pass-name aliases, mirroring the reference's strum serializations
# (impls/src/passes.rs:84-107)
PASS_ALIASES = {
    "rd": "reaching_defs",
    "reaching-definitions": "reaching_defs",
    "reaching-defs": "reaching_defs",
    "reaching_defs": "reaching_defs",
    "lv": "live_vars",
    "live-vars": "live_vars",
    "live-variables": "live_vars",
    "live_vars": "live_vars",
    "const-prop": "const_prop",
    "const-propagation": "const_prop",
    "const_prop": "const_prop",
    "available-expr": "available_exprs",
    "available-expressions": "available_exprs",
    "available-exprs": "available_exprs",
    "available_exprs": "available_exprs",
}


def _executor(spec_str: str):
    from parallel_dataflow_spark.operators import fixpoint as fx

    m = re.fullmatch(r"mixed-(\d+)", spec_str)
    if m:
        thr = int(m.group(1))
        return lambda b, e, s: fx.run_mixed(b, e, s, threshold=thr)
    return {
        "seq": fx.run_across_functions,  # in-task sequential kernels
        "across_functions": fx.run_across_functions,
        "bsp": fx.run_bsp,
        "parallel": fx.run_bsp,
    }[spec_str]


def _load_input(spark, input_spec: str):
    """'fixtures' → deterministic CFG fixtures; '-' → Bril text on stdin;
    a path → one .bril file or a directory of them."""
    import os

    if input_spec == "fixtures":
        from parallel_dataflow_spark.sources.cfg_fixtures import fixture_dataframes

        return fixture_dataframes(spark, seed=42)

    import pandas as pd

    from parallel_dataflow_spark.sources.bril import program_rows
    from parallel_dataflow_spark.sources.cfg_fixtures import BLOCKS_SCHEMA, EDGES_SCHEMA

    if input_spec == "-":
        b, e = program_rows(sys.stdin.read(), "stdin")
    elif os.path.isdir(input_spec):
        b, e = [], []
        for fn in sorted(os.listdir(input_spec)):
            if fn.endswith(".bril"):
                fb, fe = program_rows(
                    open(os.path.join(input_spec, fn)).read(), fn[:-5]
                )
                b += fb
                e += fe
    else:
        b, e = program_rows(open(input_spec).read(), os.path.basename(input_spec)[:-5])
    return (
        spark.createDataFrame(pd.DataFrame(b), schema=BLOCKS_SCHEMA),
        spark.createDataFrame(
            pd.DataFrame(e, columns=["func_id", "src", "dst"]), schema=EDGES_SCHEMA
        ),
    )


def main(argv: list[str] | None = None) -> int:
    from parallel_dataflow_spark.streaming.jobs import JOBS

    p = argparse.ArgumentParser(prog="parallel_dataflow_spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("dataflow", help="run a fixpoint analysis")
    d.add_argument("--pass", dest="pass_name", required=True,
                   choices=sorted(PASS_ALIASES),
                   help="analysis (reference aliases accepted: rd, lv, ...)")
    d.add_argument("--executor", default="seq")
    d.add_argument("--raw", action="store_true", help="print ns timings only (main.rs -r)")
    d.add_argument(
        "--input",
        default="fixtures",
        help="'fixtures' (default), a .bril file, a directory of .bril "
        "files, or '-' for Bril text on stdin (the reference's input mode, "
        "utils/src/dataflow_executor.rs:21-32)",
    )

    q = sub.add_parser("query", help="run a registry query")
    q.add_argument("--name", default=None)
    q.add_argument("--list", action="store_true",
                   help="list registered queries (driver tier + extra tier)")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)

    s = sub.add_parser("stream", help="run a streaming job to completion")
    s.add_argument("--job", choices=list(JOBS), default="tumbling")
    s.add_argument("--input", required=True)
    s.add_argument("--work", required=True)

    args = p.parse_args(argv)

    if args.cmd == "query" and (args.list or args.name is None):
        # listing needs no Spark session
        from parallel_dataflow_spark.plans.registry import (
            EXTRA_QUERIES,
            LAZY_ORACLE_SQL,
            ORACLE_SQL,
            QUERIES,
        )

        for name in QUERIES:
            o = (
                "oracle"
                if name in ORACLE_SQL or name in LAZY_ORACLE_SQL
                else "rows-only"
            )
            print(json.dumps({"name": name, "tier": "driver", "check": o}))
        for name in EXTRA_QUERIES:
            print(json.dumps({"name": name, "tier": "extra", "check": "pytest"}))
        return 0

    from parallel_dataflow_spark.session import get_spark

    spark = get_spark("pds_cli", master=args.master)

    if args.cmd == "dataflow":
        from parallel_dataflow_spark.operators.fixpoint import SPECS

        # loadtime = parse + CFG build + materialize (PassTiming.loadtime,
        # utils/src/dataflow_executor.rs:10-13,27-37); runtime = fixpoint
        t_load0 = time.time_ns()
        blocks, edges = _load_input(spark, args.input)
        blocks.cache().count()
        load_ns = time.time_ns() - t_load0

        t_run0 = time.time_ns()
        pass_name = PASS_ALIASES[args.pass_name]
        res = _executor(args.executor)(blocks, edges, SPECS[pass_name])
        rows = res.orderBy("func_id", "block_id").collect()
        run_ns = time.time_ns() - t_run0
        if args.raw:
            # two-line ns output, loadtime then runtime (perf.rs:149-160)
            print(load_ns)
            print(run_ns)
        else:
            for r in rows:
                print(json.dumps(list(r)))
    elif args.cmd == "query":
        from parallel_dataflow_spark.plans.registry import EXTRA_QUERIES, QUERIES

        df = {**EXTRA_QUERIES, **QUERIES}[args.name](spark, args.sf_dir)
        for r in df.limit(args.limit).collect():
            print(json.dumps([str(x) for x in r]))
    else:
        query, *sinks = JOBS[args.job](spark, args.input, args.work)
        query.processAllAvailable()
        query.stop()
        # report the user-facing sink (jobs with a derived view return it last)
        sink = sinks[-1]
        print(json.dumps({"sink": sink.base_dir, "rows": sink.read(spark).count()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
