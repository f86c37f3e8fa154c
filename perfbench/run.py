#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload vault_batch_load --seed 1 --seconds 12 --trace 0

The first run in a checkout compiles graft's sources together with the
benchmark program (sbt project in this directory) and caches the classpath
under .bench_build/; later runs start the JVM directly. The last line of
standard output is the result object: correct, attempted, failed, metrics.
With --trace 1 the metrics are the per-layer figures and the spans are
written to .bench_build/trace-<workload>-seed<seed>.json.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("vault_batch_load", "lakehouse_mutate", "stream_vault_tail")
# JVM class-data archive of the classes a run loads; written by the first run
# after a build, it halves JVM and Spark start-up for every later run
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: graft's main tree and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed since the last build; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not in the current directory")
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as cf:
                    return cf.read()
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "package", "export Runtime/fullClasspathAsJars"],
            cwd=BENCH, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def java(main_class, *args, dump=False):
    """The JVM command line for one of the benchmark's main classes; with
    `dump`, the run writes the class-data archive if there is none yet."""
    cp = classpath()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    share = ([f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE)
             else [f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp"] if dump else [])
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={tmp}"] + share
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main_class] + list(args))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    cmd = java("graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", a.trace,
               "--dir", os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}"), dump=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        die("run timed out")
    if proc.returncode == 0 and os.path.exists(ARCHIVE + ".tmp"):
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
    lines = out.splitlines()
    results = [i for i, l in enumerate(lines) if l.startswith('{"correct"')]
    if proc.returncode != 0 or not results:
        sys.stderr.write(out)
        die(f"run failed with exit code {proc.returncode}")
    result = json.loads(lines[results[-1]])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        die("malformed result line")
    sys.stdout.write("\n".join(l for i, l in enumerate(lines) if i != results[-1]) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
