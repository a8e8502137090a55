"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload NAME --seeds 1 2 3 ... [--seconds S]

Runs the benchmark once per seed (untraced, sequentially) and prints, for
each end-to-end metric, the median and the quartile spread (Q3 - Q1) /
median next to the metric's bound from BENCHMARK.json.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

from stats import quartile_spread

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if res.returncode != 0:
            print(f"seed {seed}: exit {res.returncode}", file=sys.stderr)
            return 1
        line = json.loads(res.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={line['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
        for k, v in line["metrics"].items():
            values[k].append(v["value"])
    if len(args.seeds) < 2:
        return 0
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        print(f"{m['name']:18s} median={statistics.median(xs):.4g} "
              f"spread={quartile_spread(xs):.3f} bound={m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
