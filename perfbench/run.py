#!/usr/bin/env python3
"""Paper-core benchmark of graft: correction, training and evaluation.

    python3 perfbench/run.py --workload correct_zipf --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program from source on first
use (perfbench/build.py), runs one workload in one JVM at local[4], and
prints as its last line one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1).
Scratch data lives in perfbench/.work and is removed at exit; run
records and traces are kept in perfbench/.out. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("correct_zipf", "correct_novel")
DEADLINE_S = 175
HEAP = "3g"
# what spark-submit adds for Spark on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    out = os.path.join(HERE, ".out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out])
    lines = []
    try:
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work) as p:
            def stop(signum, _frame):
                p.kill()
                p.wait()
                shutil.rmtree(work, ignore_errors=True)
                sys.exit(f"perfbench: stopped by signal {signum}")
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                # the deadline covers the run, not the first build
                stdout, _ = p.communicate(timeout=DEADLINE_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                sys.exit("perfbench: run exceeded its deadline")
            lines = stdout.splitlines()
            if p.returncode != 0:
                sys.stderr.write(stdout)
                sys.exit(f"perfbench: benchmark JVM exited with {p.returncode}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: no result line")
    for line in lines[:-1]:
        print(line)
    print(lines[-1])


if __name__ == "__main__":
    main()
