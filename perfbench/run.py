#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload bbcode_turns --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Builds the harness (sbt, in this directory) when its classpath is missing or
older than any source, then runs perfbench.Main in one JVM. The last line of
standard output is the JSON result; the exit code is the harness's (0 only
when every correctness check passed). See README.md.
"""
import argparse
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# Spark on JDK 17 needs these when the session is created outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        newest = max(newest, os.path.getmtime(os.path.join(BENCH, f)))
    return newest


def build():
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})", 3)


def java(main_class, args):
    work = os.path.join(BENCH, ".work")
    tmp = os.path.join(work, "tmp")
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the heap is pinned and committed up front, so no timed job pays for
    # growing it
    cmd = [exe, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *opens,
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, main_class,
           "--root", ROOT, "--work", work, *args]
    os.makedirs(tmp, exist_ok=True)
    sys.stdout.flush()
    p = subprocess.Popen(cmd, cwd=ROOT)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 124)
    except BaseException:
        p.kill()
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["bbcode_turns", "dedup_docs"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true", help="run the harness self-tests")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "src", "test", "resources", "oracle_fixtures.jsonl")):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a checkout of the repository", 2)
    build()
    if a.selftest:
        sys.exit(java("perfbench.SelfTest", []))
    sys.exit(java("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--traces", os.path.join(BENCH, ".traces")]))


if __name__ == "__main__":
    main()
