#!/usr/bin/env python3
"""Steady-state benchmark of the graft CDC engine and curation pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine and the harness from source with sbt (once per source
state, under $CARGO_TARGET_DIR or .bench_build), then runs one workload in
one JVM. The last line of standard output is the result JSON. The exit
code is 0 only when every op's result passed its check.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("mor_mixed", "curate_corpus")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build(root, build_root):
    """Compile once per source state; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files(root):
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    target = os.path.join(build_root, "perfbench-" + digest.hexdigest()[:16])
    cp_file = os.path.join(target, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    # resolve from the local caches only
    env = dict(os.environ, PERFBENCH_TARGET=target, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines()
             if l.startswith(os.path.join(target, "scala-"))]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        fail("--workload is required", 2)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the root of a checkout: src/main/scala is missing", 2)
    build_root = os.path.abspath(
        os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    os.makedirs(build_root, exist_ok=True)
    classpath = build(root, build_root)

    work = os.path.join(build_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = ["java"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Parallel GC: after a full collection its old generation holds exactly
    # the live data (G1's region accounting varied by 36 MB between
    # identical runs). Fixed generation sizes keep the collection rate
    # the same from run to run.
    java += [
        "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
        "-XX:-UseAdaptiveSizePolicy",
        "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={work}",
        "-cp", classpath, "perfbench.Main",
    ]
    if args.selftest:
        java.append("--selftest")
    else:
        java += ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", args.trace,
                 "--work", work]
    proc = subprocess.Popen(java, cwd=work, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
