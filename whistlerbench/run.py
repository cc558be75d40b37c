#!/usr/bin/env python3
"""Run one whistler benchmark workload and print its result line.

Usage, from the root of a checkout:

    python3 whistlerbench/run.py --workload study-play --seed 1 --seconds 10 --trace 0

Builds the benchmark (the library from the checkout's sources plus the
driver in whistlerbench/src) with sbt when the sources changed since the
last build, then starts one JVM for the run. Generated inputs and state
live under .bench_work/ and are removed afterwards; details and spans of
each run are kept under .bench_out/. The last line of stdout is the
result object.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
STAMP = os.path.join(BENCH, "target", "bench-stamp.txt")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

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
    print(f"whistlerbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # resolve only from the local repositories the toolchain configures
        repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    proc = subprocess.Popen([sbt, "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out")
    if code != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["study-play", "curate-stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the library's sources (src/main/scala/graft) are not in this checkout")
    build()
    with open(CLASSPATH) as fh:
        cp = os.pathsep.join(line.strip() for line in fh if line.strip())

    run = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".bench_work", run)
    out = os.path.join(ROOT, ".bench_out", run)
    cmd = ["java", "-Xms1g", "-Xmx3g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dlog4j2.configurationFile=classpath:log4j2-graft-tooling.properties",
            f"-Dderby.system.home={work}", f"-Djava.io.tmpdir={work}",
            "-cp", cp, "whistlerbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out]
    os.makedirs(work, exist_ok=True)
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in stdout.splitlines() if line.strip()]
    if proc.returncode not in (0, 1) or not lines:
        fail(f"benchmark JVM exited {proc.returncode} after {time.time() - t0:.1f} s", 4)
    for line in lines:
        print(line)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
