#!/usr/bin/env python3
"""Benchmark of the production RunJob path (see perfbench/README.md).

    python3 perfbench/run.py --workload fresh_p4 --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program from source on first use
(perfbench/build.py), runs one benchmark JVM, and prints as its last line
the result: {"correct", "attempted", "failed", "metrics"}. Reports land in
.bench_build/perfbench/reports/<workload>-s<seed>-t<trace>/.
"""
import argparse
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["fresh_p4", "resume_p16"]
# One run must end within 180 s; the JVM gets what is left after the build.
JVM_TIMEOUT_S = 170


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args(argv[1:])
    if a.seed < 0 or a.seconds < 1:
        p.error("--seed must be >= 0 and --seconds >= 1")

    root = os.getcwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    out = os.path.join(root, build.BUILD_DIR, "reports",
                       f"{a.workload}-s{a.seed}-t{a.trace}")
    result = os.path.join(out, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = build.java_cmd(root, classpath) + [
        "graft.perfbench.Bench",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--out", out,
        "--golden", os.path.join(build.HERE, "golden.json"),
    ]
    try:
        proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                              text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: the benchmark JVM ran over {JVM_TIMEOUT_S} s",
              file=sys.stderr)
        return 1
    sys.stdout.write(proc.stdout)
    if proc.returncode != 0 or not os.path.exists(result):
        print(f"perfbench: the benchmark JVM exited with {proc.returncode}",
              file=sys.stderr)
        return 1
    with open(result) as fh:
        print(fh.read().strip(), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
