#!/usr/bin/env python3
"""Cross-check perfbench/expected.tsv against the DuckDB oracle.

For each corpus size the benchmark uses (full: sf 0.1, smoke: sf 0.001),
generates the corpus, runs graft.Verify on every query of expected.tsv
(writing each result as parquet), runs tools/check.py on the oracle-backed
ones (DuckDB running the query's oracle SQL on the same parquet), and
checks every result's row count against expected.tsv. A query's recorded
fingerprint is trustworthy when its Spark result passes here: run this
after re-recording expected.tsv (run.py --record 1).

Usage (from the repository root): python3 perfbench/crosscheck.py
"""
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen_corpus  # noqa: E402
import run  # noqa: E402

SIZES = {"full": 0.1, "smoke": 0.001}


def main():
    run.build()
    expected = {}
    for line in (HERE / "expected.tsv").read_text().splitlines():
        size, q, rows, h, _schema = line.split("\t")
        expected.setdefault(size, {})[q] = (int(rows), h != "-")
    work = run.ROOT / ".perfbench_work" / "crosscheck"
    failures = 0
    try:
        for size, sf in SIZES.items():
            corpus, out = work / size / "corpus", work / size / "out"
            gen_corpus.generate(str(corpus), sf)
            qs = sorted(expected[size])
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(min(os.cpu_count() or 1, 4)))
            subprocess.run(["java", *run.ADD_OPENS, f"-Xmx{run.HEAP}", "-Duser.timezone=UTC",
                            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                            "-cp", f"{run.CLASSES}:{run.spark_jars()}", "graft.Verify",
                            str(corpus), str(out), *qs], cwd=work, env=env, check=True)
            oracle = [q for q in qs if expected[size][q][1]]
            p = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"), str(corpus),
                                str(out), *oracle], text=True, stdout=subprocess.PIPE)
            print(f"[{size}] DuckDB oracle on {len(oracle)} queries:\n{p.stdout.strip()}")
            failures += p.returncode != 0
            for q in qs:
                n = sum(pq.read_metadata(f).num_rows for f in (out / q).glob("*.parquet"))
                if n != expected[size][q][0]:
                    print(f"[{size}] FAIL {q}: Verify wrote {n} rows, expected.tsv says {expected[size][q][0]}")
                    failures += 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("crosscheck: " + ("FAIL" if failures else "PASS"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
