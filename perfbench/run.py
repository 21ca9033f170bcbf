#!/usr/bin/env python3
"""Repository benchmark: one run of one workload in a fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <ingest_ticks|lake_queries|corpus_curation>
      --seed <n> --seconds <s> --trace <0|1> [--size full|smoke]

Builds the harness and the library from source when they changed
(perfbench/build.sbt, sbt offline), makes the run's inputs from the seed
under .perfbench_work/, starts the benchmark JVM on local[N] with
N = min(nproc, 4), and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. Per-run details (per-query and per-tick rows, job call sites) go
to a sidecar in .perfbench_out/. Exits non-zero when any correctness check
fails or the program cannot be built.

--record 1 (query workloads) re-records perfbench/expected.tsv from the
current program; use it only after cross-checking the results against the
DuckDB oracle (see perfbench/NOTES.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
WORKLOADS = ("ingest_ticks", "lake_queries", "corpus_curation")
# Per-layer metrics (by name prefix) of layers a workload does not run;
# a traced run reports them as 0.
QUERY_LAYERS = ("query.", "family.")
INGEST_LAYERS = ("ingest.", "rollup.", "jdbc.")
NOT_RUN = {"ingest_ticks": QUERY_LAYERS, "lake_queries": INGEST_LAYERS + ("family.",),
           "corpus_curation": INGEST_LAYERS}
HEAP = "3g"
# A fixed heap with a fixed young generation, so the JVM's resident memory
# follows what the program keeps alive rather than how far adaptive
# young-generation sizing happened to grow in this run.
JVM_MEMORY = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m"]
# The serial collector: G1's parallel and concurrent GC threads spin while
# a vCPU they wait for is stolen by the hypervisor, so on a shared host the
# JVM's CPU time per op (the benchmark's op metric) rose with the host's
# load; with the serial collector the same runs used 7-15 % less CPU and
# moved less with the host, at no cost in wall time (see NOTES.md).
JVM_GC = ["-XX:+UseSerialGC"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

sys.path.insert(0, str(HERE))
import gen_corpus  # noqa: E402


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (LIB_SRC, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        raise SystemExit("perfbench: build failed")
    STAMP.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def spark_jars():
    # the same rule as build.sbt: Spark comes from $SPARK_HOME/jars
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.1 install")
    return str(Path(home) / "jars" / "*")


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cpu_ticks():
    f = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
    v = [int(x) for x in f]
    return sum(v), (v[7] if len(v) > 7 else 0)


def loadavg():
    return float(Path("/proc/loadavg").read_text().split()[0])


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(a, work, corpus, warm_corpus, cores):
    cmd = ["java", *ADD_OPENS, *JVM_MEMORY, *JVM_GC, "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           "-cp", f"{CLASSES}:{spark_jars()}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--cores", str(cores),
           "--corpus", str(corpus), "--warm-corpus", str(warm_corpus), "--size", a.size,
           "--expected", str(HERE / "expected.tsv"), "--record", str(a.record)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    ready, result = None, None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_READY"):
                ready = time.time()
            elif line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or result is None or ready is None:
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
    return ready, result


def corpus_dir(sf):
    """The read-only query corpus at scale `sf`, generated on first use and
    kept (keyed by the generator's hash) for later runs in this checkout;
    generation is not part of setup_s."""
    key = hashlib.sha256((HERE / "gen_corpus.py").read_bytes()).hexdigest()[:12]
    d = ROOT / ".perfbench_work" / f"corpus-{sf}-{key}"
    if not d.is_dir():
        tmp = d.with_name(f"{d.name}.{os.getpid()}.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        gen_corpus.generate(str(tmp), sf)
        try:
            tmp.rename(d)
        except OSError:  # another run made it first
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks: stop the JVM, delete
    # the run's directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (LIB_SRC / "graft").is_dir():
        raise SystemExit(f"perfbench: library sources not found under {LIB_SRC.relative_to(ROOT)}")
    build()

    cores = min(os.cpu_count() or 1, 4)
    work = ROOT / ".perfbench_work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    total0, steal0 = cpu_ticks()
    load0 = loadavg()
    try:
        corpus = warm_corpus = work
        if a.workload != "ingest_ticks":
            # the tiny corpus is for the first warm-up. The corpora are made
            # before set-up starts, so every run's setup_s measures the same
            # work whether or not the corpus was cached.
            warm_corpus = corpus_dir(0.001)
            corpus = corpus_dir(0.1) if a.size == "full" else warm_corpus
        t0 = time.time()
        ready, res = run_jvm(a, work, corpus, warm_corpus, cores)
        setup_s = ready - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    total1, steal1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)
    load1 = loadavg()
    log(f"run validity: cpu steal {steal:.4f} of box time, load average {load0:.2f} -> {load1:.2f} "
        f"on {os.cpu_count()} cpus")

    got = res["metrics"]
    if a.trace:
        got["box.steal_frac"] = {"value": steal, "unit": "fraction"}
        got["box.loadavg_1m"] = {"value": load1, "unit": "count"}
    else:
        got["setup_s"] = {"value": setup_s, "unit": "s"}
    metrics, missing = {}, []
    for m in declared_metrics(a.trace):
        if a.trace and m["name"] not in got and m["name"].startswith(NOT_RUN[a.workload]):
            got[m["name"]] = {"value": 0, "unit": m["unit"]}
        v = got.get(m["name"])
        if v is None or v["value"] is None or v["unit"] != m["unit"]:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = v
    if missing:
        log(f"metrics missing or with the wrong unit: {', '.join(missing)}")
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    (out / f"{a.workload}-{a.size}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(
        {"args": vars(a), "cores": cores, "heap": HEAP, "setup_s": setup_s, "steal_frac": steal,
         "loadavg": [load0, load1], "metrics": got, **res.get("sidecar", {})}, indent=1))
    correct = res["failed"] == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
