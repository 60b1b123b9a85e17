#!/usr/bin/env python3
"""Run one workload with several seeds and report, for each metric, the
median of the runs and their spread: the distance between the first and
third quartile as a share of the median (statistics.quantiles, n=4). The
spread of an end-to-end metric must stay within its bound in
BENCHMARK.json.

    python3 perfbench/steady.py --workload knn_batch --seeds 1-10
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range such as 1-10")
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in seeds_of(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}",
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med = statistics.median(xs)
        sp = stats.spread(xs) if len(xs) > 1 and med else 0.0
        bound = bounds.get(name)
        flag = "" if bound is None else f"  bound {bound}" + ("  OVER" if sp > bound else "")
        print(f"{name:36s} median {med:12.4f}  spread {sp:6.3f}{flag}")
        print(f"{'':36s} {[round(x, 4) for x in xs]}")


if __name__ == "__main__":
    main()
