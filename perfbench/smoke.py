#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size.

Runs every workload run.py knows (those of BENCHMARK.json and
lake_queries) with --size smoke (sf 0.001 corpus, four small ingest ticks,
one pass of each query mix), once untraced and once traced, and asserts
that each run exits 0: run.py exits non-zero when a correctness check
fails or a declared metric is missing or not in its declared unit. Also
prints each workload's tracing overhead: the traced run's CPU seconds per
op (geometric mean) minus the untraced run's.

Usage (from the repository root): python3 perfbench/smoke.py [--seed n]
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
from run import WORKLOADS  # noqa: E402


def run(workload, seed, trace):
    p = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    seed = ap.parse_args().seed
    problems = []
    for w in WORKLOADS:
        cpu = {}
        for trace in (0, 1):
            # run.py exits non-zero when a check fails or a declared metric
            # is missing or in the wrong unit
            code, res = run(w, seed, trace)
            tag = f"{w} trace={trace}"
            if code != 0 or res is None or res["attempted"] < 1:
                problems.append(f"{tag}: exit {code}, result {res}")
                continue
            cpu[trace] = res["metrics"].get("op_cpu_s_gmean" if trace == 0 else "trace.op_cpu_s_gmean", {}).get("value")
            print(f"{tag}: ok, {res['attempted']} ops", flush=True)
        if None not in (cpu.get(0), cpu.get(1)):
            print(f"{w}: tracing overhead {cpu[1] - cpu[0]:+.3f} CPU s per op "
                  f"(traced {cpu[1]:.3f} s, untraced {cpu[0]:.3f} s)")
    for p in problems:
        print("FAIL " + p)
    print("smoke: " + ("FAIL" if problems else "PASS"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
