#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the program (src/main/scala, src/main/resources) together with
the benchmark's own sources (graftbench/src) into one class directory,
using the Scala compiler that ships with Spark. The build is keyed by a
hash of every input, so an unchanged tree is not compiled twice.

Usage: python3 graftbench/build.py   (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first spark-submit on PATH
    that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("graftbench: no Spark jars found; set SPARK_HOME")


def build_root():
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(target):
        target = os.path.join(ROOT, target)
    return os.path.join(target, "graftbench")


def inputs():
    """(path, kind) of every build input, in a stable order."""
    found = []
    for base, suffix, kind in (
        (os.path.join(ROOT, "src", "main", "scala"), ".scala", "scala"),
        (os.path.join(ROOT, "src", "main", "resources"), "", "resource"),
        (os.path.join(BENCH, "src"), ".scala", "scala"),
    ):
        for d, _, files in os.walk(base):
            for f in files:
                if f.endswith(suffix):
                    found.append((os.path.join(d, f), kind))
    return sorted(found)


def build():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"graftbench: no program sources at {program}")
    files = inputs()
    h = hashlib.sha256()
    for path, _ in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()[:20]
    out = os.path.join(build_root(), "classes-" + stamp)
    if os.path.isfile(os.path.join(out, ".done")):
        return out

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sources = [p for p, kind in files if kind == "scala"]
    argfile = os.path.join(build_root(), "sources-" + stamp + ".txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"graftbench: compile failed ({proc.returncode})")
    for path, kind in files:
        if kind == "resource":
            rel = os.path.relpath(path, os.path.join(ROOT, "src", "main", "resources"))
            os.makedirs(os.path.dirname(os.path.join(tmp, rel)), exist_ok=True)
            shutil.copy(path, os.path.join(tmp, rel))
    # keep only this build: older class dirs are stale by construction
    for d in os.listdir(build_root()):
        if d.startswith("classes-") and os.path.join(build_root(), d) not in (out, tmp):
            shutil.rmtree(os.path.join(build_root(), d), ignore_errors=True)
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
