"""The benchmark's workloads. Each drives the package through its public
functions in a closed loop (the next operation starts when the previous
one returns) until the measuring window ends, then checks every output
against ``reference``.

A workload fills an ``Outcome``: attempted/failed checks, the end-to-end
metrics and, when traced, the per-layer metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

import host
import reference
import sparkstats
from stats import Tracer, geomean

# -- sizes (fixed: a workload's size never depends on the host) ------------

BATCH_SF = 0.02
# 8 of bench.py's 12 headline queries: the run-time budget leaves out
# q3_top_orders, topk_orders_per_customer, events_session_5m and
# events_stream_join_10m (joins and windows that q5 and the tumbling
# window also exercise)
HEADLINE = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "events_tumbling_10m",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_cosine_bruteforce_pandas",
    "tokenize_documents",
)
# the dataflow phase of traced batch runs: an across-functions program of
# functions whose block counts are a fixed list (10..46) in seeded order,
# so every seed analyses 280 blocks; BSP over two 4-block functions, as it
# pays 35-50 driver jobs per pass at any size (const_prop does not
# converge under BSP)
DATAFLOW_SIZES = tuple(range(10, 50, 4))
ACROSS_SPECS = ("reaching_defs", "live_vars", "const_prop", "available_exprs")
DATAFLOW_BSP_SIZES = (4, 4)
BSP_SPECS = ("reaching_defs", "live_vars")

CEP_ROWS = 6_000
CEP_FILES = 8
CEP_MAX_FILES_PER_TRIGGER = 8
CEP_ROWS_PER_SEC = 10  # event-time span of the table >> the 5 min watermark
# the generator's default (rows / 40 documents, 1% of them hot with 30% of
# the rows) leaves one hot key at this size, whose NFA time swings the
# replay's CPU by 30% from seed to seed; 1000 documents give 10 hot keys
CEP_DOCS = 1000
CEP_STEPS = (range(0, 2000), range(2000, 4000))
CEP_GAP_S = 600
CEP_MAX_PARTIALS = 64  # streaming.cep.Pattern's default
CEP_KEY = ("doc_id", "match_start_ts", "match_end_ts")  # the sink's key
CEP_WARMUP_ROWS = 400


CPU_FIGURES = ("pass_cpu_s", "step_cpu_s")


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    cache: reference.Cache
    cpus: int
    process_start: float
    setup_s: float | None = None
    peak_rss_mb: float | None = None
    rss_by_process: dict[str, float] = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def log(self, msg: str) -> None:
        print(f"perfbench [{time.time() - self.process_start:7.2f}s] {msg}", file=sys.stderr)

    @contextmanager
    def timed(self, name: str, out: Outcome):
        """A set-up step: a span, and its seconds as per-layer metric
        ``<name>_s``."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            yield
            out.layers[f"{name}_s"] = time.perf_counter() - t0
        self.log(f"{name} {out.layers[f'{name}_s']:.2f}s")

    def setup_done(self) -> None:
        """Called right before the first timed operation."""
        self.setup_s = time.time() - self.process_start
        self.log("setup done")

    def measure(self, loop):
        """Run the closed loop ``loop`` for one window untraced, then, in a
        traced run, for a second window traced. Returns both results (the
        second is None untraced); the first gives the end-to-end figures,
        the difference between them the tracing overhead."""
        traced = self.tracer.enabled
        self.tracer.enabled = False
        plain = loop()
        self.rss_by_process = host.tree_peak_rss_mb()
        self.peak_rss_mb = sum(self.rss_by_process.values())
        self.log("window done")
        self.tracer.enabled = traced
        if not traced:
            return plain, None
        again = loop()
        self.log("traced window done")
        return plain, again

    def window_over(self, start: float, ops: int, min_ops: int) -> bool:
        """The window ends at the first operation boundary after
        ``seconds``, and not before ``min_ops`` operations."""
        return time.perf_counter() - start >= self.seconds and ops >= min_ops

    @contextmanager
    def op(self, span_name: str, group: str):
        """One timed call into a layer: a span, and (traced only) a Spark
        job group so the status store can be read per call."""
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(group, group)
        with self.tracer.span(span_name) as s:
            yield s
        if self.traced:
            sc.setLocalProperty("spark.jobGroup.id", None)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def figures(self, plain: dict[str, float], traced: dict[str, float] | None) -> None:
        """File a window's figures: the CPU-time ones are end-to-end
        metrics; the wall-clock ones, which host steal moves by up to 80%
        here, are per-layer metrics ``wall.*`` and in the detail line. With
        a traced window, also the tracing overhead: each traced figure over
        the untraced one, minus one."""
        for k, v in plain.items():
            if k in CPU_FIGURES:
                self.e2e[k] = v
            else:
                self.layers[f"wall.{k}"] = v
        self.detail["figures"] = plain
        if traced is not None:
            for k, v in traced.items():
                self.layers[f"trace.overhead.{k}"] = v / plain[k] - 1

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.detail.setdefault("failures", []).append(what)


# -- batch_headline (and its traced dataflow phase) -----------------------

def _program(seed: int, sizes: tuple[int, ...]) -> tuple[list, list]:
    """Functions of the given block counts, in seeded order, each a
    seeded ``random_cfg``."""
    import numpy as np

    from parallel_dataflow_spark.sources.cfg_fixtures import random_cfg

    rng = np.random.default_rng(np.random.PCG64(seed))
    blocks, edges = [], []
    for i, nb in enumerate(rng.permutation(np.asarray(sizes))):
        b, e = random_cfg(f"f{i:04d}", int(nb), int(rng.integers(1 << 30)))
        blocks += b
        edges += e
    return blocks, edges


def _program_frames(spark, work: str, name: str, blocks: list, edges: list):
    """The program as cached DataFrames, loaded through parquet files (a
    driver-side createDataFrame of the nested instruction structs goes
    row at a time)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from parallel_dataflow_spark.sources.cfg_fixtures import BLOCKS_SCHEMA, EDGES_SCHEMA

    frames = []
    for kind, rows, schema in (("blocks", blocks, BLOCKS_SCHEMA), ("edges", edges, EDGES_SCHEMA)):
        path = os.path.join(work, f"{name}_{kind}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)), path)
        df = spark.read.schema(schema).parquet(path).cache()
        df.count()
        frames.append(df)
    return tuple(frames)


def batch_headline(ctx: Ctx, out: Outcome) -> None:
    """Passes over the headline queries in seeded order. A traced run
    adds the dataflow phase (``_fixpoint_layers``) on the same session."""
    import datagen
    from parallel_dataflow_spark.plans import registry

    queries = {**registry.QUERIES, **registry.EXTRA_QUERIES}
    data = os.path.join(ctx.work, "tables")
    with ctx.timed("bench.tables_gen", out):
        datagen.write_tables(data, ctx.seed, BATCH_SF)
    rng = random.Random(ctx.seed)

    def run_query(name: str, n_pass: int, rec: dict) -> None:
        spark = ctx.spark
        group = f"registry.{name}.{n_pass}"
        with ctx.op(f"registry.{name}", group) as span:
            cpu0, t0 = host.cpu_sample(), time.perf_counter()
            spark.catalog.clearCache()
            with ctx.tracer.span("registry.build"):
                df = queries[name](spark, data)
            rec["build"] += time.perf_counter() - t0
            with ctx.tracer.span("registry.action"):
                if n_pass == -1:  # the first warm-up pass keeps the rows to check
                    rec["rows"][name] = df.collect()
                    rec["counts"][name] = len(rec["rows"][name])
                else:
                    rec["counts"][name] = df.count()
            rec["wall"][name] = time.perf_counter() - t0
            rec["cpu"][name] = host.cpu_s_between(cpu0, host.cpu_sample())
        if span is not None:
            rec["stats"].append(sparkstats.group_stats(spark, group, span.start, span.end))

    def run_pass(n_pass: int) -> dict:
        order = list(HEADLINE)
        rng.shuffle(order)
        rec = {"wall": {}, "cpu": {}, "build": 0.0, "counts": {}, "rows": {}, "stats": []}
        with ctx.tracer.span("bench.pass"):
            for name in order:
                run_query(name, n_pass, rec)
        return rec

    def loop() -> dict:
        passes = []
        start = time.perf_counter()
        while not ctx.window_over(start, len(passes), min_ops=1):
            passes.append(run_pass(len(passes)))
        return {"passes": passes, "window": time.perf_counter() - start}

    # two warm-up passes: after one, the JIT compilers still take more CPU
    # than the queries and the next pass runs 20-30% slower than the third
    with ctx.timed("session.warmup", out):
        warm = run_pass(-1)
        run_pass(-2)
    out.detail["warmup_query_s"] = warm["wall"]

    ctx.setup_done()
    plain, traced = ctx.measure(loop)

    def figures(res: dict) -> dict[str, float]:
        passes = res["passes"]
        fig = {"throughput_per_s": len(HEADLINE) * len(passes) / res["window"]}
        for key, name in (("wall", "s"), ("cpu", "cpu_s")):
            fig[f"pass_{name}"] = median([sum(p[key].values()) for p in passes])
            fig[f"step_{name}"] = geomean(
                [median([p[key][q] for p in passes]) for q in HEADLINE]
            )
        return fig

    out.figures(figures(plain), figures(traced) if traced else None)
    out.detail["passes"] = len(plain["passes"])
    for key in ("wall", "cpu"):
        out.detail[f"query_{key}_s"] = {
            q: median([p[key][q] for p in plain["passes"]]) for q in HEADLINE
        }
    out.detail["issue_names"] = {
        "batch_pass_s": out.detail["figures"]["pass_s"],
        "batch_geomean_s": out.detail["figures"]["step_s"],
    }

    # checks (untimed): every row of the warm-up pass, and the row count of
    # every timed query
    with ctx.tracer.span("reference.batch"):
        timed = plain["passes"] + (traced["passes"] if traced else [])
        for name in HEADLINE:
            key = f"batch-{ctx.seed}-{BATCH_SF}-{name}"
            if name == "knn_cosine_bruteforce_pandas":
                want = ctx.cache.get_or_compute(key, lambda: reference.knn_rows(data))
            elif name == "dedup_minhash_lsh":
                want = ctx.cache.get_or_compute(key, lambda: reference.jaccard_pairs(data))
            else:
                sql = registry.ORACLE_SQL[name]
                want = ctx.cache.get_or_compute(key, lambda: reference.duckdb_rows(data, sql))
            got = reference.normalize(warm["rows"][name])
            out.check(reference.rows_match(got, want), f"{name}: rows differ from reference")
            for p in timed:
                n = p["counts"][name]
                out.check(n == len(want), f"{name}: {n} rows, want {len(want)}")

    if traced is not None:
        passes = traced["passes"]
        for q in HEADLINE:
            out.layers[f"registry.{q}.wall_s"] = median([p["wall"][q] for p in passes])
        out.layers["registry.build_s"] = median([p["build"] for p in passes])
        out.layers["registry.action_s"] = median(
            [sum(p["wall"].values()) - p["build"] for p in passes]
        )
        totals = [sparkstats.sum_stats(p["stats"]) for p in passes]
        for key in sparkstats.TOTALS:
            name = f"{key}_per_pass" if key in ("jobs", "stages", "tasks") else key
            out.layers[f"registry.{name}"] = median([t[key] for t in totals])
        _fixpoint_layers(ctx, out)


def _fixpoint_layers(ctx: Ctx, out: Outcome) -> None:
    """The dataflow engine, traced only: each across-functions analysis
    over a 280-block program and each converging analysis under BSP over
    two 4-block functions, once, after a warm-up, checked against
    ``golden_rows``."""
    import pandas as pd

    from parallel_dataflow_spark.operators.fixpoint import (
        SPECS,
        golden_rows,
        run_across_functions,
        run_bsp,
    )

    programs = {}
    with ctx.timed("sources.cfg_build", out):
        frames = {}
        for kind, seed, sizes in (
            ("across", ctx.seed, DATAFLOW_SIZES),
            ("bsp", ctx.seed + 1, DATAFLOW_BSP_SIZES),
        ):
            programs[kind] = _program(seed, sizes)
            frames[kind] = _program_frames(ctx.spark, ctx.work, kind, *programs[kind])
    run = {"across": run_across_functions, "bsp": run_bsp}
    with ctx.tracer.span("session.warmup"):
        for kind in run:
            run[kind](*frames[kind], SPECS["live_vars"]).collect()

    wall, stats = {}, {"across": [], "bsp": []}
    for kind, specs in (("across", ACROSS_SPECS), ("bsp", BSP_SPECS)):
        for spec in specs:
            group = f"fixpoint.{kind}.{spec}"
            with ctx.op(f"fixpoint.{kind}", group) as span:
                t0 = time.perf_counter()
                rows = run[kind](*frames[kind], SPECS[spec]).collect()
                wall[(kind, spec)] = time.perf_counter() - t0
            stats[kind].append(sparkstats.group_stats(ctx.spark, group, span.start, span.end))
            out.layers[f"fixpoint.{kind}.{spec}.wall_s"] = wall[(kind, spec)]
            with ctx.tracer.span("reference.fixpoint"):
                bl, ed = (pd.DataFrame(x) for x in programs[kind])
                want = ctx.cache.get_or_compute(
                    f"fixpoint-{ctx.seed}-{kind}-{spec}",
                    lambda: reference.normalize(golden_rows(bl, ed, SPECS[spec])),
                )
                got = reference.normalize(
                    (r.func_id, r.block_id, r.in_val, r.out_val) for r in rows
                )
                out.check(got == want, f"fixpoint {kind} {spec}: {len(got)} rows")
    for pair in frames.values():
        for df in pair:
            df.unpersist()

    across = sparkstats.sum_stats(stats["across"])
    bsp = sparkstats.sum_stats(stats["bsp"])
    out.layers["fixpoint.across.jobs_per_pass"] = across["jobs"] / len(ACROSS_SPECS)
    out.layers["fixpoint.across.stage_run_s"] = across["stage_run_s"] / len(ACROSS_SPECS)
    out.layers["fixpoint.bsp.jobs_per_pass"] = bsp["jobs"] / len(BSP_SPECS)
    bsp_wall = [wall[("bsp", s)] for s in BSP_SPECS]
    out.layers["fixpoint.bsp.s_per_job"] = sum(bsp_wall) / bsp["jobs"]
    out.layers["fixpoint.bsp.driver_gap_s"] = bsp["driver_gap_s"] / len(BSP_SPECS)
    with ctx.tracer.span("reference.golden"):
        bl, ed = (pd.DataFrame(x) for x in programs["across"])
        t0 = time.perf_counter()
        golden_rows(bl, ed, SPECS["reaching_defs"])
        golden_s = time.perf_counter() - t0
    out.layers["fixpoint.golden_s"] = golden_s
    out.layers["fixpoint.across_speedup"] = golden_s / wall[("across", "reaching_defs")]
    out.detail["issue_names"].update(
        dataflow_across_pass_s=median([wall[("across", s)] for s in ACROSS_SPECS]),
        dataflow_bsp_pass_s=median(bsp_wall),
    )


# -- stream_cep -----------------------------------------------------------

def _write_sentinel(src: str, last_us: int) -> None:
    """A far-future row in a file newer than every other: the watermark it
    raises releases every buffered row, so the stream's final output is
    the NFA over the whole table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(src, "chunk=9999")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "part-0.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(["sentinel"]),
                "tokens": pa.array([[49_999]], type=pa.list_(pa.int32())),
                "n_tok": pa.array([1], type=pa.int32()),
                "source": pa.array(["web"]),
                "event_ts": pa.array(
                    [last_us + 86_400 * 1_000_000], type=pa.timestamp("us", tz="UTC")
                ),
            }
        ),
        path,
    )
    newest = max(
        os.path.getmtime(os.path.join(r, f)) for r, _, fs in os.walk(src) for f in fs
    )
    os.utime(path, (newest + 60, newest + 60))


def _read_rows(src: str):
    import pyarrow.dataset as ds

    return ds.dataset(src, format="parquet", partitioning=None).to_table()


def _cep_table(ctx: Ctx, src: str, n_rows: int, seed: int, n_files: int) -> None:
    import pyarrow.compute as pc

    from parallel_dataflow_spark.sources.sequences import write_sequence_table

    write_sequence_table(
        ctx.spark, src, n_rows, seed=seed, n_files=n_files, n_docs=CEP_DOCS,
        rows_per_sec=CEP_ROWS_PER_SEC,
    )
    last = pc.max(_read_rows(src).column("event_ts").cast("int64")).as_py()
    _write_sentinel(src, last)


def _cep_reference(src: str) -> list[list]:
    t = _read_rows(src)
    doc = t.column("doc_id").to_pylist()
    keep = [i for i, d in enumerate(doc) if d != "sentinel"]
    t = t.take(keep)
    return reference.cep_matches(
        t.column("doc_id").to_pylist(),
        t.column("event_ts").cast("int64").to_pylist(),
        t.column("tokens").to_pylist(),
        [set(s) for s in CEP_STEPS],
        CEP_GAP_S,
        max_partials=CEP_MAX_PARTIALS,
    )


def stream_cep(ctx: Ctx, out: Outcome) -> None:
    from parallel_dataflow_spark.streaming.cep import Pattern
    from parallel_dataflow_spark.streaming.jobs import run_cep_job

    pattern = Pattern.of([list(s) for s in CEP_STEPS], gap_seconds=CEP_GAP_S)
    src = os.path.join(ctx.work, "cep_src")
    with ctx.timed("sources.write_sequence_table", out):
        _cep_table(ctx, src, CEP_ROWS, ctx.seed, CEP_FILES)
    n_replays = [0]

    def replay(table: str) -> dict:
        work = os.path.join(ctx.work, f"cep_job{n_replays[0]}")
        n_replays[0] += 1
        with ctx.tracer.span("streaming.replay"):
            cpu0, t0, epoch0 = host.cpu_sample(), time.perf_counter(), time.time()
            q, sink = run_cep_job(
                ctx.spark, table, work, pattern, max_files_per_trigger=CEP_MAX_FILES_PER_TRIGGER
            )
            q.processAllAvailable()
            q.stop()
            wall = time.perf_counter() - t0
            cpu = host.cpu_s_between(cpu0, host.cpu_sample())
        rec = {"wall": wall, "cpu": cpu, "progress": q.recentProgress, "sink": sink, "work": work}
        if ctx.traced:
            rec["stats"] = sparkstats.group_stats(ctx.spark, str(q.runId), epoch0, epoch0 + wall)
        return rec

    def loop() -> dict:
        replays = []
        start = time.perf_counter()
        while not ctx.window_over(start, len(replays), min_ops=1):
            replays.append(replay(src))
        return {"replays": replays, "window": time.perf_counter() - start}

    # warm-up: a small table cold, then the measured table once
    with ctx.timed("session.warmup", out):
        warm_src = os.path.join(ctx.work, "cep_warm_src")
        _cep_table(ctx, warm_src, CEP_WARMUP_ROWS, ctx.seed + 1, CEP_FILES)
        replay(warm_src)
        warm = replay(src)

    ctx.setup_done()
    plain, traced = ctx.measure(loop)

    def batch_s(res: dict) -> list[float]:
        return [
            p.durationMs["triggerExecution"] / 1000 for r in res["replays"] for p in r["progress"]
        ]

    def figures(res: dict) -> dict[str, float]:
        replays = res["replays"]
        rows = sum(p.numInputRows for r in replays for p in r["progress"])
        return {
            "pass_s": median([r["wall"] for r in replays]),
            "step_s": median(batch_s(res)),
            "throughput_per_s": rows / res["window"],
            "pass_cpu_s": median([r["cpu"] for r in replays]),
            "step_cpu_s": median([r["cpu"] / len(r["progress"]) for r in replays]),
        }

    out.figures(figures(plain), figures(traced) if traced else None)
    out.detail["issue_names"] = {
        "cep_rows_per_s": out.detail["figures"]["throughput_per_s"],
        "cep_batch_p50_s": out.detail["figures"]["step_s"],
    }
    out.detail["replays"] = len(plain["replays"])

    with ctx.tracer.span("reference.cep"):
        want = ctx.cache.get_or_compute(
            f"cep-{ctx.seed}-{CEP_ROWS}-{CEP_FILES}-{CEP_DOCS}-{CEP_ROWS_PER_SEC}", lambda: _cep_reference(src)
        )
    out.detail["matches"] = len(want)
    all_replays = [warm] + plain["replays"] + (traced["replays"] if traced else [])
    for r in all_replays:
        got = reference.sink_rows(r["sink"].base_dir, CEP_KEY)
        out.check(got == want, f"cep replay: {len(got)} matches, want {len(want)}")
    if traced is not None:
        replays = traced["replays"]
        read_s = []
        for r in replays:
            with ctx.tracer.span("sink.read"):
                t0 = time.perf_counter()
                r["sink"].read(ctx.spark).count()
                read_s.append(time.perf_counter() - t0)
        out.layers.update(
            sparkstats.stream_layers("cep", [p for r in replays for p in r["progress"]], batch_s(traced))
        )
        totals = [sparkstats.sum_stats([r["stats"]]) for r in replays]
        for key in ("stage_run_s", "gc_s", "shuffle_write_mb", "task_skew"):
            out.layers[f"cep.{key}"] = median([t[key] for t in totals])
        out.layers["cep.matches"] = float(len(want))
        out.layers.update(sparkstats.sink_layers(replays[0]["sink"].base_dir, read_s))
        out.layers["cep.scaling_eff_1to4"] = _cep_scaling(
            ctx, src, replay, median([r["wall"] for r in replays])
        )
    for r in all_replays:
        shutil.rmtree(r["work"], ignore_errors=True)


def _cep_scaling(ctx: Ctx, src: str, replay, wall_n: float) -> float:
    """Speed-up of local[cpus] over local[1] divided by cpus, from one
    replay of the same table on a fresh local[1] context."""
    from parallel_dataflow_spark.session import get_spark, stop_spark

    stop_spark()
    # same shuffle (and so state) partitioning as the local[cpus] session
    ctx.spark = get_spark("perfbench_local1", master="local[1]", shuffle_partitions=ctx.cpus)
    one = replay(src)
    shutil.rmtree(one["work"], ignore_errors=True)
    return one["wall"] / (ctx.cpus * wall_n)


WORKLOADS = {
    "batch_headline": batch_headline,
    "stream_cep": stream_cep,
}
