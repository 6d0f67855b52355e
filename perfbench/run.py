#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Builds graft and the benchmark from source (perfbench/build.py), runs one
workload in one JVM on local[nproc], and prints as the last stdout line one
JSON object {"correct", "attempted", "failed", "metrics"}. --trace 1 prints
the per-layer metrics instead of the end-to-end ones and writes the span file
and layer self-time table under .bench_build/trace/.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("gates_short", "substrate_build", "stream_replay", "flow_gz_lines")
# The whole run, set-up included, must finish well inside 180 s.
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(classes, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    # A fixed heap and young generation keep the resident set, and so
    # peak_rss_mb, a function of what the run retains rather than of when
    # the collector chose to grow the heap.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", cp, main] + args)
    # Spark would put its block and shuffle files under these instead of
    # the run's own scratch directory
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    p = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"run: {main} exceeded {JVM_TIMEOUT_S} s")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    classes = build.build()
    work = os.path.join(build.build_dir(), "run")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.selftest:
            rc, out = jvm(classes, "graft.perfbench.SelfTest", [], work)
            sys.stdout.write(out)
            return rc
        rc, out = jvm(classes, "graft.perfbench.Main",
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--root", build.ROOT, "--work", work,
                       "--out", build.build_dir()], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith("RESULT ")]
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    if rc != 0 or len(result) != 1:
        print(f"run: JVM exited with {rc}, {len(result)} result lines", file=sys.stderr)
        return rc or 1
    print(result[0][len("RESULT "):], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
