#!/usr/bin/env python3
"""Run one vsbench workload from the root of a checkout.

    python3 vsbench/run.py --workload knn_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt on first use (the
build is cached in .bench_build/ and redone when a source file changes),
then starts the run's JVMs one after another (knn_batch runs in two, so
that no single JVM's speed decides the run). The last JVM's last stdout
line, one JSON object, is printed as this program's last line. Exits
non-zero without a result when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(OUT, "launch.txt")
STAMP = os.path.join(OUT, "launch.sha256")
# JVMs per run, by workload
WORKLOADS = {"knn_batch": 2, "ingest_update": 1}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"


def fail(msg):
    print(f"vsbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources here (build.sbt, src/main/scala); run from a checkout root")
    digest = source_digest()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    with open(os.path.join(OUT, "build.log"), "w") as log:
        try:
            code = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Dvsbench.launch={LAUNCH}",
                 "writeLaunch"],
                cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see .bench_build/build.log")
    if code != 0 or not os.path.isfile(LAUNCH):
        fail(f"build failed (exit {code}); see .bench_build/build.log")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"vsbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def run_jvm(cmd, log_path, deadline):
    """Runs one JVM to its end; returns (exit code, stdout)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None, ""
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    with open(LAUNCH) as fh:
        opts_line, cp = fh.read().split("\n")[:2]
    opts = [o for o in opts_line.split("\x01") if o]
    with open(os.path.join(BENCH, "host_ref.json")) as fh:
        ref = json.load(fh)
    threads = len(os.sched_getaffinity(0))
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    work = os.path.join(OUT, "work", f"run-{os.getpid()}")
    jvms = WORKLOADS[a.workload]
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        for j in range(jvms):
            cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *opts, "-cp", cp,
                   "vsbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace), "--threads", str(threads),
                   "--jvm", str(j), "--jvms", str(jvms), "--work", work,
                   "--out", os.path.join(OUT, "results"),
                   "--ref-single-us", str(ref["probe_single_us"])]
            log_path = os.path.join(logs, f"{name}-jvm{j}.log")
            code, out = run_jvm(cmd, log_path, deadline)
            if code is None:
                fail(f"run timed out after {RUN_TIMEOUT_S} s; see {os.path.relpath(log_path, ROOT)}")
            if code != 0:
                fail(f"run failed (exit {code}); see {os.path.relpath(log_path, ROOT)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(log_path) as fh:
        summary = [ln for ln in fh.read().splitlines() if ln.startswith("vsbench ")]
    for ln in summary:
        print(ln, file=sys.stderr)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if not lines:
        fail(f"run printed no result; see {os.path.relpath(log_path, ROOT)}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
