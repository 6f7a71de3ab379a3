#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage:
  python3 graftbench/run.py --workload cdc_restart|pg_backfill|corpus_curation
                            --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (graftbench/build.py),
runs the workload in one JVM at local[nproc], and prints the JVM's result
as the last line of standard output:

  {"correct": true, "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also writes its spans to
<build dir>/graftbench/traces/. Exits non-zero when a correctness check
fails or the run cannot complete.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cdc_restart", "pg_backfill", "corpus_curation")
TIMEOUT_S = 170

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
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    root = build.build_root()
    work = os.path.join(root, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--bench-dir", build.BENCH])
    # SPARK_LOCAL_DIRS would override spark.local.dir and put scratch files
    # outside the build directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, env=env)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"graftbench: {a.workload} did not finish within {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    result = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            obj = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(obj, dict) and {"correct", "attempted", "failed", "metrics"} <= obj.keys():
            result = lines.pop(i)
            break
    for line in lines:
        print(line)
    if result is None:
        sys.exit(f"graftbench: {a.workload} printed no result (exit {proc.returncode})")
    print(result)
    sys.stdout.flush()
    if proc.returncode != 0 or not json.loads(result)["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
