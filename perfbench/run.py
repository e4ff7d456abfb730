#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload serve|toolkit --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build) and caches the resulting classpath; later runs rebuild only when a
source or build file is newer than that cache; a rebuild also forgets the
toolkit output digests earlier runs recorded. The JVM's stdout passes
through, so the last line printed is the result object.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "classpath.txt")
# toolkit output digests of earlier runs, per seed, of the code last built
DIGESTS = os.path.join(TARGET, "work", "digests")
WORKLOADS = ("serve", "toolkit")
# a run's fixed cost beyond its --seconds of load: JVM and Spark start,
# the collection build, the output checks and the traced extras
RUN_OVERHEAD_S = 145
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these when started outside spark-submit; the same
# list the root build passes to its forked runs.
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


def newest_source_mtime():
    newest = 0.0
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src", "main")):
        for dirpath, dirnames, filenames in os.walk(tree):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            files.extend(os.path.join(dirpath, f) for f in filenames)
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def classpath():
    """Build if needed; return the runtime classpath of the benchmark."""
    if (os.path.isfile(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime()):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (sbt exit {out.returncode})")
    shutil.rmtree(DIGESTS, ignore_errors=True)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no library sources next to {HERE}; run from a full checkout")

    cp = classpath()
    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=a.seconds + RUN_OVERHEAD_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {a.seconds + RUN_OVERHEAD_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
