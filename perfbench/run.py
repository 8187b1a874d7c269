#!/usr/bin/env python3
"""Run one benchmark workload against graft and print one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds (see build.py). The
JVM runs Spark in local mode on every core; its state lives in a scratch
directory under the build directory and is removed afterwards. With
--trace 1, the spans are kept in <build>/traces/<workload>-<seed>.jsonl.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("etl_daily", "lakehouse_sql", "upsert_read")
RUN_TIMEOUT_S = 170
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
    out = os.path.dirname(classes)
    work = os.path.abspath(os.path.join(out, f"work-{a.workload}-{os.getpid()}"))
    spans = os.path.abspath(os.path.join(out, "traces", f"{a.workload}-{a.seed}.jsonl"))
    os.makedirs(os.path.join(work, "tmp"))
    log4j = os.path.abspath(os.path.join(os.path.dirname(__file__), "log4j2.properties"))
    # a heap sized up front and a fourth JIT thread: with the heap growing
    # from its default and three JIT threads, some runs stayed 25 % slower
    cmd = ["java", "-Xms3g", "-Xmx4g", "-XX:CICompilerCount=4", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dlog4j2.configurationFile={log4j}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--spans", spans]
    log = os.path.join(out, f"{a.workload}-last.log")
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit(f"run: {a.workload} exceeded {RUN_TIMEOUT_S} s; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"run: {a.workload} failed with code {p.returncode}")
    with open(log) as f:
        summary = [ln for ln in f if ln.startswith(a.workload + " ")]
    sys.stderr.write("".join(summary))
    print(lines[-1])


if __name__ == "__main__":
    main()
