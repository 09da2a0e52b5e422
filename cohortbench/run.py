#!/usr/bin/env python3
"""Cohort-lifecycle benchmark runner.

Run from the root of a checkout:

    python3 cohortbench/run.py --workload cohort --seed 1 --seconds 20 --trace 0

Builds the benchmark (its own sbt build, which compiles the program's
sources with it, then a class-data archive recorded by one cohort run) when
the sources changed since the last build, then runs one workload in one JVM
and prints the result as the last line of stdout.
Everything it writes stays under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "cohortbench")
CP_FILE = os.path.join(OUT, "classpath.txt")
STAMP_FILE = os.path.join(OUT, "stamp.txt")
CDS_FILE = os.path.join(OUT, "classes.jsa")
WORK = os.path.join(OUT, "work")
WORKLOADS = ("cohort", "analysis")
# Spark local[k] and the JVM heap are fixed here so every run measures the
# same engine; k never exceeds the host's cores.
CORES = min(2, os.cpu_count() or 1)
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPTS = [
    "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=WARN",
    "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=32",
] + [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for o in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("cohortbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if all(os.path.exists(f) for f in (CP_FILE, STAMP_FILE, CDS_FILE)):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CP_FILE) as g:
                    return g.read().strip()
    os.makedirs(OUT, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[-20:]) + "\n")
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail("build failed")
    cp = lines[-1].strip()
    # a class-data archive of the classes a run loads, recorded by one run
    # of the cohort workload; every run maps it instead of loading the
    # engine's classes one by one (figures with and without it are in
    # README.md)
    if os.path.exists(CDS_FILE):
        os.remove(CDS_FILE)
    trained = os.path.join(OUT, "train.json")
    train = subprocess.run(
        ["java"] + JVM_OPTS + ["-XX:ArchiveClassesAtExit=" + CDS_FILE]
        + run_args(cp, "cohort", 0, 0, 0, 0, trained),
        cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S,
        stdin=subprocess.DEVNULL)
    if train.returncode != 0 or not os.path.exists(CDS_FILE):
        fail("class-data training run failed")
    os.remove(trained)
    with open(CP_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cp


def run_args(cp, workload, seed, seconds, trace, perturb, result):
    """Class path, main class and arguments of one workload run."""
    return ["-cp", cp, "cohortbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--perturb", str(perturb), "--cores", str(CORES),
            "--work", WORK, "--result", result]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0,
                    help="run every output check against a perturbed expectation")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found under " + ROOT)
    cp = build()
    result = os.path.join(OUT, "result-%d.json" % os.getpid())
    if os.path.exists(result):
        os.remove(result)
    cmd = ["java"] + JVM_OPTS + ["-XX:SharedArchiveFile=" + CDS_FILE] + run_args(
        cp, a.workload, a.seed, a.seconds, a.trace, a.perturb, result)
    # the program's own console output goes to stderr; stdout carries
    # only the result line (and perturbation reports)
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.stderr.write("cohortbench: JVM ran %.1f s\n" % (time.time() - t0))
    for line in out.splitlines():
        if line.startswith("PERTURB"):
            print(line)
        else:
            sys.stderr.write(line + "\n")
    if proc.returncode != 0 or not os.path.exists(result):
        fail("workload %s exited with code %s" % (a.workload, proc.returncode))
    with open(result) as f:
        res = json.loads(f.read())
    os.remove(result)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
