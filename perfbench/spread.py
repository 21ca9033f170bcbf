#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs one workload untraced once per seed and prints, for every
end-to-end metric of BENCHMARK.json, the median, the quartile spread
(Q3 - Q1 of statistics.quantiles(values, n=4), as a share of the median)
and the metric's bound. A benchmark is steady when every spread except
setup_s stays below its bound.

Usage (from the repository root):
  python3 perfbench/spread.py --workload <name> [--seeds 1,2,3,4,5] [--seconds s]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3,4,5")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args()
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in a.seeds.split(","):
        t0 = time.time()
        p = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
                            "--seed", seed, "--seconds", str(a.seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: exit {p.returncode}, correct {res['correct']}, attempted {res['attempted']}, "
              f"failed {res['failed']}, {time.time() - t0:.1f} s wall", flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else \
            ("  above bound/3" if spread < m["bound"] else "  ABOVE BOUND")
        print(f"{m['name']:26s} median {med:12.5g} {m['unit']:9s} spread {spread:7.4f} "
              f"bound {m['bound']}{flag}")


if __name__ == "__main__":
    main()
