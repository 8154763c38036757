#!/usr/bin/env python3
"""Repository benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler shipped in Spark's jars
into .bench_build/perfbench/ (reused while the sources are unchanged), runs
one workload in a fresh JVM and prints its result object as the last line
of stdout. Spark is found through SPARK_HOME or `spark-submit` on PATH.
Exits non-zero without a result when the engine sources are missing, the
build fails or the run fails.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]
WORKLOADS = ("backfill_1m", "daemon_steady", "pq_serving")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(jars, "*")


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not found:
        fail("no Scala sources found")
    return sorted(found)


def build(jars):
    """Compile once per distinct source set; return the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        t0 = time.time()
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
               "scala.tools.nsc.Main",
               "-deprecation", "-nowarn", "-classpath", jars, "-d", tmp,
               "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail("build failed")
        os.rename(tmp, classes)
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
        return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    runs = os.path.join(OUT, "runs")
    work = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, jars]), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    log = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}.log")
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err)

            def stop(signum, _frame):
                p.kill()
                p.wait()
                shutil.rmtree(work, ignore_errors=True)
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S}s (log: {os.path.relpath(log, ROOT)})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed with exit code {p.returncode}")
    print(lines[-1])


if __name__ == "__main__":
    main()
