#!/usr/bin/env python3
"""Steadiness check: runs the benchmark on seeds 1 to 10 per workload and
reports, for every end-to-end metric, the median and the spread between
the first and third quartile as a share of the median, beside the
metric's bound. Also prints the contention sentinel of each run.

    python3 perfbench/steady.py                       # all workloads
    python3 perfbench/steady.py --workloads scan
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    worst = 0.0
    for w in a.workloads.split(","):
        runs = []
        for seed in SEEDS:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                sys.exit(f"{w} seed {seed} failed:\n{p.stderr[-3000:]}")
            ctx, res = json.loads(lines[-2]), json.loads(lines[-1])
            runs.append(res)
            print(f"{w} seed {seed}: sentinel {statistics.median(ctx['sentinel_ms']):.0f} ms, "
                  f"{ctx['ops_measured']} ops, " + ", ".join(
                      f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "" if spread < m["bound"] / 3 else "  <-- above a third of the bound"
            if m["name"] != "setup_s":
                worst = max(worst, spread / m["bound"])
            print(f"  {w:9s} {m['name']:28s} median {med:12.4f}  spread {spread:7.4f}  "
                  f"bound {m['bound']}{flag}")
    print(f"largest spread / bound (setup_s excluded): {worst:.3f}")


if __name__ == "__main__":
    main()
