#!/usr/bin/env python3
"""Compile graft (src/main/scala) and the benchmark (perfbench/src) into one
class directory, with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py [--out DIR]

Run from the repository root. A build is skipped when the sources, the
Spark jars and the JDK match the stamp of the last build.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

GRAFT_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
DEFAULT_OUT = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no scala-compiler jar under $SPARK_HOME/jars")
    return jars


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise SystemExit("build: graft sources not found; run from the repository root")
    found = []
    for top in (GRAFT_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    h.update(subprocess.run(["java", "-version"], capture_output=True).stderr)
    return h.hexdigest()


def build(out=DEFAULT_OUT):
    """Return the class directory, compiling first when stale."""
    jars = spark_jars()
    srcs = sources()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    want = stamp(srcs, jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=DEFAULT_OUT)
    print(build(ap.parse_args().out))
