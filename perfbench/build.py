#!/usr/bin/env python3
"""Build file of the graft pipeline benchmark.

Compiles, with the Scala compiler that ships in the Spark distribution (no
build tool, no dependency resolution):

  lib    the graft library, src/main/scala
  bench  the benchmark, perfbench/src, against lib
  tests  the benchmark's self-tests, perfbench/tests, against both

Each output lands in <checkout>/.bench_build/graft-bench/<part>-<hash>/,
where the hash covers the part's sources and those it compiles against, so
an unchanged tree reuses its last build.

  python3 perfbench/build.py [--tests]     # prints the classpath entries
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PARTS = {
    "lib": os.path.join(ROOT, "src", "main", "scala"),
    "bench": os.path.join(BENCH_DIR, "src"),
    "tests": os.path.join(BENCH_DIR, "tests"),
}


def spark_classpath():
    """The jars of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        for d in os.environ.get("PATH", "").split(os.pathsep):
            submit = os.path.realpath(os.path.join(d, "spark-submit"))
            if os.path.isdir(os.path.join(os.path.dirname(os.path.dirname(submit)), "jars")):
                home = os.path.dirname(os.path.dirname(submit))
                break
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit(f"build: no Spark distribution at {home} (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "graft-bench")


def compile_part(part, deps, log):
    """Compile one part against `deps` (a list of (hash, classes)); return (hash, classes)."""
    src = PARTS[part]
    files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no Scala sources under {src}")
    h = hashlib.sha256()
    for dep_hash, _ in deps:
        h.update(dep_hash.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()[:16]
    out = os.path.join(build_root(), f"{part}-{digest}")
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return digest, classes
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"build: compiling {part} ({len(files)} Scala sources)", file=log, flush=True)
    cp = os.pathsep.join([c for _, c in deps] + [spark_classpath()])
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", spark_classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(tmp, "classes"), "-classpath", cp, "@" + argfile]
    res = subprocess.run(cmd, stdout=log, stderr=log)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: compiling {part} failed with code {res.returncode}")
    os.replace(tmp, out)
    return digest, classes


def build(with_tests=False, log=sys.stderr):
    """Compile what changed; return the classpath entries to run with."""
    lib = compile_part("lib", [], log)
    bench = compile_part("bench", [lib], log)
    parts = [lib, bench] + ([compile_part("tests", [lib, bench], log)] if with_tests else [])
    resources = os.path.join(ROOT, "src", "main", "resources")
    return [c for _, c in parts] + [resources]


if __name__ == "__main__":
    print(os.pathsep.join(build(with_tests="--tests" in sys.argv)))
