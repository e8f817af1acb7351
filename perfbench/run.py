#!/usr/bin/env python3
"""Pipeline benchmark for the graft whisper engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine (src/main) and the benchmark (perfbench/src) from source
with the Scala compiler shipped in $SPARK_HOME/jars, runs one workload in
one JVM on local[<cores>] from a single calling thread, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(and writes the spans to .perfbench_out/). The exit code is non-zero when
any operation failed or any output check did not hold. Generated inputs live
in .perfbench_work/ and are deleted at exit; build outputs are kept in
.perfbench_build/, keyed by a hash of the sources.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("ingest_bulk", "serve_live", "corpus_curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt and org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the root of a full checkout")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return engine + bench


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("SPARK_HOME must point at a Spark install whose jars/ holds the Scala compiler")
    return os.path.join(home, "jars", "*")


def build(root, jars):
    """Compile once per source hash; returns the classpath to run with."""
    srcs = sources(root)
    resources = os.path.join(root, "src/main/resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    base = os.path.join(root, ".perfbench_build")
    out = os.path.join(base, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        t0 = time.time()
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", classes, "-cp", jars, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail("compilation failed", 3)
        open(os.path.join(out, "done"), "w").close()
        print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return os.pathsep.join([classes, resources, jars])


def java(cp, main, args, work, timeout):
    """Runs a JVM in its own process group; kills the group on timeout."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap and young generation keep peak RSS from following the
    # collector's sizing decisions; no perf data, so nothing lands in /tmp
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss4m", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-cp", cp, main] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{main} did not finish within {timeout} s", 4)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the tests of the benchmark's pure parts and exit")
    a = ap.parse_args()
    root = os.getcwd()
    jars = spark_jars()
    cp = build(root, jars)
    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    try:
        if a.selftest:
            sys.exit(java(cp, "perfbench.SelfTest", [], work, RUN_TIMEOUT_S))
        if a.workload is None or a.seed is None or a.seconds is None:
            fail("--workload, --seed and --seconds are required")
        outdir = os.path.join(root, ".perfbench_out")
        os.makedirs(outdir, exist_ok=True)
        out = os.path.join(outdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        if os.path.exists(out):
            os.remove(out)
        code = java(cp, "perfbench.Main", [
            "--launch-ms", str(int(time.time() * 1000)),
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out], work, RUN_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            fail(f"workload {a.workload} exited with code {code} and no result", 5)
        with open(out) as f:
            result = json.load(f)
        print(json.dumps(result))
        sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
