#!/usr/bin/env python3
"""Order-book benchmark runner.

    python3 obbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 obbench/run.py --selftest

Run from the repository root. Builds the library and the benchmark from
source (see build.py), then runs one workload in a fresh JVM and prints
its result JSON as the last line of stdout. Exits nonzero, without a
result, when the sources are missing, the build fails or the run does
not finish in time; exits 1 with `"correct": false` when an output
check fails.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("book_queries", "history_replay", "ingest", "curate")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(root, classes, main, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-Xms1536m", "-Xmx1536m", "-Xss8m", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" +
           os.path.join(build.HERE, "log4j2.properties")]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-cp", classes + os.pathsep + build.spark_jars() + "/*", main]
    return cmd + args


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    root = build.ROOT
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"obbench: {e}", file=sys.stderr)
        return 2

    bench_dir = os.path.join(root, ".bench_run")
    if a.selftest:
        run_dir = os.path.join(bench_dir, "selftest")
        cmd = jvm(root, classes, "graft.bench.SelfTest", [], run_dir)
        return subprocess.run(cmd, cwd=root, timeout=RUN_TIMEOUT_S).returncode

    run_dir = os.path.join(bench_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spans = os.path.join(bench_dir, "spans", f"{a.workload}-{a.seed}.jsonl")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--run-dir", run_dir, "--spans", spans]
    cmd = jvm(root, classes, "graft.bench.Main", args, run_dir)
    try:
        proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"obbench: {a.workload} did not finish in {RUN_TIMEOUT_S} s",
              file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = proc.stdout.splitlines()
    result = [ln for ln in lines if ln.startswith('{"correct"')]
    for ln in lines:
        if ln not in result:
            print(ln)
    if proc.returncode in (0, 1) and result:
        print(result[-1])
    else:
        print(f"obbench: {a.workload} exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
