"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run is one fresh Python + JVM
process driving one workload in a closed loop on local[nproc] with the
session defaults users get; only ``SPARK_GRAFT_CPUS`` and the scratch
locations (``SPARK_LOCAL_DIRS``, ``TMPDIR``, the JVM temp dir) are set.
Everything the run writes stays under the checkout: scratch data in
``.bench_work/`` (removed at exit), cached references in
``.bench_cache/``, traced records in ``.bench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Untraced, the metrics
are the end-to-end ones of BENCHMARK.json; traced (``--trace 1``), the
per-layer ones, measured in a second window after an untraced one, with
the tracing overhead. The line before it carries run details: host noise
annotations and the end-to-end figures under the names of the workload
definition.
"""

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "parallel_dataflow_spark"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _configure_env(work: str, cpus: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM ignores TMPDIR; keep its temp files and perf data in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop_jvm() -> None:
    """End the JVM that the session launched. PySpark leaves it to notice
    its closed stdin pipe after this process has exited, so without this
    it outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    try:
        gateway.shutdown()
    except Exception:
        pass
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _metrics(spec: list[dict], values: dict[str, float], fill_missing: bool) -> dict:
    declared = {m["name"] for m in spec}
    extra = sorted(set(values) - declared)
    if extra:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {extra}")
    out = {}
    for m in spec:
        if m["name"] not in values and not fill_missing:
            raise KeyError(f"metric not measured: {m['name']}")
        # a layer this workload never calls did no work in this run
        out[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        return _fail(f"package {PACKAGE}/ not found next to {os.path.basename(HERE)}/")
    if not os.path.isfile(bench_json):
        return _fail("BENCHMARK.json not found at the checkout root")
    with open(bench_json) as f:
        bench = json.load(f)

    sys.path.insert(0, ROOT)
    import host
    import reference
    from stats import Tracer, failed_frac, self_times
    from workloads import WORKLOADS, Ctx, Outcome

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    # every way out, SIGTERM included, goes through the teardown below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    host.become_subreaper()
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{run_id}")
    os.makedirs(work)
    cpus = host.cpus()
    _configure_env(work, cpus)
    noise_start = host.noise()
    tracer = Tracer(enabled=bool(args.trace), run_id=run_id)
    out = Outcome()
    try:
        from parallel_dataflow_spark.session import get_spark, stop_spark

        with tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            out.layers["session.get_spark_s"] = time.perf_counter() - t0
        ctx = Ctx(
            spark=spark,
            tracer=tracer,
            seed=args.seed,
            seconds=args.seconds,
            work=work,
            cache=reference.Cache(os.path.join(ROOT, ".bench_cache")),
            cpus=cpus,
            process_start=PROCESS_START,
        )
        try:
            WORKLOADS[args.workload](ctx, out)
        finally:
            stop_spark()
    finally:
        try:
            _stop_jvm()
        finally:
            killed = host.reap_tree(timeout=30)
            shutil.rmtree(work, ignore_errors=True)
    if killed:
        print(f"perfbench: signalled leftover processes {killed}", file=sys.stderr)
    noise_end = host.noise()

    out.e2e["setup_s"] = ctx.setup_s
    out.layers["peak_rss_mb"] = ctx.peak_rss_mb
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run_id": run_id,
        "cpus": cpus,
        "failed_frac": failed_frac(out.attempted, out.failed),
        "peak_rss_mb_by_process": ctx.rss_by_process,
        "host_noise": {
            "start": noise_start,
            "end": noise_end,
            "steal_s_during_run": noise_end["steal_s"] - noise_start["steal_s"],
        },
        **out.detail,
    }
    if args.trace:
        by_layer: dict[str, float] = {}
        for name, secs in self_times(tracer.spans).items():
            layer = name.split(".", 1)[0]
            by_layer[layer] = by_layer.get(layer, 0.0) + secs
        for layer, secs in by_layer.items():
            out.layers[f"self.{layer}_s"] = secs
        metrics = _metrics(bench["per_layer"], out.layers, fill_missing=True)
        rec_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(rec_dir, exist_ok=True)
        stem = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-{run_id}")
        with open(stem + ".spans.jsonl", "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(dataclasses.asdict(s)) + "\n")
        with open(stem + ".layers.json", "w") as f:
            json.dump({"detail": detail, "end_to_end": out.e2e, "per_layer": metrics}, f, indent=1)
        detail["records"] = os.path.relpath(stem, ROOT)
    else:
        metrics = _metrics(bench["end_to_end"], out.e2e, fill_missing=False)

    print(f"perfbench [{time.time() - PROCESS_START:7.2f}s] done", file=sys.stderr)
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
