#!/usr/bin/env python3
"""Daily-ingest benchmark of the flight ingestion engine.

Run from the repository root:

    python3 flightbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark program once per source state
(see build.py), runs one workload in a fresh
JVM, and prints the result as the last line of standard output:

    {"correct": true, "attempted": 1000, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see flightbench/METRICS.md). Build output, logs, the
spans of traced runs and the run's scratch files go to .bench_build/
under the root.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
from build import HERE, OUT, ROOT, BuildError, build

WORKLOADS = ("bulk_days", "ingest_with_reads")
RESULT = "FLIGHTBENCH_RESULT "
RUN_TIMEOUT_S = 170


def fail(msg, code):
    print(f"[flightbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1", 2)
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        fail(f"engine sources not found under {ROOT}; run from a full checkout", 2)

    try:
        cp, jvm_opts = build()
    except BuildError as e:
        fail(str(e), 3)
    work = OUT / "run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (OUT / "logs").mkdir(exist_ok=True)
    log_path = OUT / "logs" / f"{a.workload}-{a.seed}-trace{a.trace}.log"
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", *jvm_opts,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", os.pathsep.join(str(p) for p in cp), "flightbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
           "--spans", str(OUT / "spans" / f"{a.workload}-{a.seed}.jsonl")]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run timed out after {RUN_TIMEOUT_S} s; see {log_path}", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(log_path) as log:
        for line in log:
            if line.startswith("[flightbench]"):
                sys.stderr.write(line)
    results = [l[len(RESULT):] for l in out.splitlines() if l.startswith(RESULT)]
    if proc.returncode != 0 or not results:
        fail(f"run failed (exit {proc.returncode}); see {log_path}", 5)
    print(json.dumps(json.loads(results[-1])))


if __name__ == "__main__":
    main()
