#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload, one closed loop.

Run from the root of a checkout:

    python3 e2ebench/run.py --workload diff_full --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
then runs the harness JVM. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. The line before it is
the run's stamp (host, settings, load, op counts). Build outputs, generated
inputs and traces live under .bench_build/e2ebench/ in the checkout.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "e2ebench")
WORKLOADS = ("diff_full", "diff_daily", "feed_ingest")
JVM_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the build compiles, to skip an up-to-date build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
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
    """Compile with sbt unless these sources were built already.

    Returns (classpath, JVM options, source digest)."""
    os.makedirs(OUT, exist_ok=True)
    launch_file = os.path.join(OUT, "launch.txt")
    stamp_file = os.path.join(OUT, "launch.sha256")
    digest = source_digest()

    def launch():
        with open(launch_file) as f:
            lines = f.read().splitlines()
        return lines[0], lines[1:], digest

    if os.path.exists(launch_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                return launch()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, E2EBENCH_LAUNCH_FILE=launch_file, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "writeLaunch"], cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(launch_file):
        fail(f"build failed (sbt exit {rc}); see {os.path.join(OUT, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(digest)
    return launch()


def busy_cores(seconds=1.0):
    """Cores kept busy by other processes (steal included) over a short sample."""
    def sample():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        idle = v[3] + (v[4] if len(v) > 4 else 0)
        return sum(v), idle
    t0, i0 = sample()
    time.sleep(seconds)
    t1, i1 = sample()
    total = t1 - t0
    return 0.0 if total <= 0 else (os.cpu_count() or 1) * (total - (i1 - i0)) / total


def commit_id(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + digest[:16]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are not in this checkout")
    load_start = os.getloadavg()[0]
    ambient = busy_cores()
    classpath, jvm_options, digest = build()
    work = os.path.join(OUT, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + jvm_options + ["-cp", classpath, "e2ebench.BenchMain",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--trace-dir", os.path.join(OUT, "traces"),
              "--commit", commit_id(digest), "--load-start", f"{load_start:.2f}",
              "--ambient-busy-cores", f"{ambient:.2f}"])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"the run did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out)
        fail(f"the harness exited with code {proc.returncode} and no result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
