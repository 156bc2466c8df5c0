#!/usr/bin/env python3
"""Build and run the engine benchmark.

    python3 perfbench/run.py --workload <name|all> [--seed N] [--seconds S] [--trace 0|1]

Compiles the engine sources (src/main/scala) together with the benchmark
harness (perfbench/scala) with the Scala compiler shipped in the Spark jar
directory, caches the classes under $CARGO_TARGET_DIR (default
.bench_build), then runs one JVM per workload on a local[nproc] Spark
session. The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ["bars_incremental", "analytics_curate", "curate_incremental", "bars_stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def jar_dir():
    """The Spark jar directory: $SPARK_HOME/jars, else the engine build's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jar directory: set SPARK_HOME or run from an engine checkout")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources not found at {engine}: run from the root of an engine checkout")
    out = []
    for top in (engine, os.path.join(BENCH_DIR, "scala")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(jars):
    """Compile engine + benchmark into a cached class directory keyed by
    the sources' content."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith((".scala", ".java")):
            h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(ROOT, out)
    classes = os.path.join(out, "perfbench-classes")
    stamp_file = os.path.join(out, "perfbench-classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    try:
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                           cwd=ROOT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("compilation timed out", 3)
    if r.returncode != 0:
        fail("compilation failed", 3)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_one(workload, args, classes, jars):
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
              "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--bench-dir", BENCH_DIR,
              "--cores", str(cores)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = []

    def pump():
        # echo progress lines as they come; keep the JSON result line
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                lines.append(line)
            else:
                print(line, flush=True)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reader.join(timeout=10)
        shutil.rmtree(work, ignore_errors=True)
    last = lines[-1] if lines else None
    if proc.returncode != 0 or last is None:
        fail(f"{workload} exited with code {proc.returncode}", 5)
    return last


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    jars_dir = jar_dir()
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    classes = build(jars)
    results = [run_one(w, args, classes, jars)
               for w in (WORKLOADS if args.workload == "all" else [args.workload])]
    print("\n".join(results), flush=True)


if __name__ == "__main__":
    main()
