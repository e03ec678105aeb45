#!/usr/bin/env python3
"""KGCW-shaped end-to-end benchmark of graft's Engine.run.

    python3 kgbench/run.py --workload records_nt --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the program and the benchmark from
source (see build.py), then runs graft.kgbench.Main in one JVM with a fixed
heap and GC. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; everything else goes to stderr. See
README.md for the workloads and metrics.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["records_nt", "joins_nm", "json_turtle"]
HEAP = "3g"
# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio",
         "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
# a run must end within 180 s; the JVM is stopped before that
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    classpath = build.build(root)
    work = os.path.join(root, ".bench_build", "kgbench-work", args.workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.kgbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        sys.exit(f"kgbench: benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
