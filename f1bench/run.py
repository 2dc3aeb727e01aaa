#!/usr/bin/env python3
"""Run one workload of the f1bench benchmark and print its result line.

    python3 f1bench/run.py --workload query_mix --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (f1bench/build.sbt) and caches the classpath under
f1bench/target; later runs start the JVM directly. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Everything the run writes stays under f1bench/target.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED = os.path.join(HERE, "expected", "fingerprints.tsv")
WORKLOADS = ("f1_marts", "query_mix")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as the
# engine's own build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[f1bench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newer_than(path):
    stamp = os.path.getmtime(path)
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            if any(os.path.getmtime(os.path.join(d, f)) > stamp for f in files):
                return True
    return False


def build():
    """Compile engine and benchmark once; return the runtime classpath."""
    if os.path.exists(CLASSPATH) and not sources_newer_than(CLASSPATH):
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found next to f1bench/; run from a full checkout")
    if not os.path.isdir(DATA):
        fail(f"input tables missing: {DATA}")
    cp = build()

    work = os.path.join(TARGET, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "graft.f1bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--work", work, "--expected", EXPECTED])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
