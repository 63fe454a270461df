#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serving_mixed --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the engine and the benchmark with sbt
(offline, from source); later runs reuse the build while the sources are
unchanged. Everything else the run prints goes to stderr. Outputs (the
per-run artifact, spans of a traced run, Spark's scratch files) stay under
perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(BENCH_DIR, "out")
LAUNCH = os.path.join(BENCH_DIR, "target", "launch.txt")
STAMP = os.path.join(BENCH_DIR, "target", "launch.stamp")
WORKLOADS = ("serving_mixed", "dedup_lsh")
# time a run may take beyond its measured window (JVM, set-ups, warm-up, checks)
OVERHEAD_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building engine and benchmark (sbt, offline)")
    t0 = time.time()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          f"-Djava.io.tmpdir={tmp}", "writeLaunch"],
                         cwd=BENCH_DIR, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.exists(LAUNCH):
        raise SystemExit(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="perturb every expected value (tests the checks)")
    ap.add_argument("--selftest", choices=("inputs",), default=None,
                    help="write input fingerprints instead of running")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"engine sources missing: {os.path.join(ROOT, need)}")
    build()

    with open(LAUNCH) as fh:
        lines = [l for l in fh.read().splitlines() if l]
    classpath, jvm_opts = lines[0], lines[1:]
    tmp = os.path.join(OUT, "tmp")
    local = os.path.join(OUT, "spark-local")
    work = os.path.join(OUT, "work")
    for d in (tmp, local, work):
        os.makedirs(d, exist_ok=True)
    result = os.path.join(OUT, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java"] + jvm_opts +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            f"-Dderby.system.home={work}", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", OUT, "--corrupt", str(a.corrupt)])
    if a.selftest:
        cmd += ["--selftest", a.selftest]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=a.seconds + OVERHEAD_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"{a.workload} did not finish within {a.seconds + OVERHEAD_S} s")
    if rc != 0:
        raise SystemExit(f"{a.workload} exited with {rc}")
    if a.selftest:
        return
    with open(result) as fh:
        res = json.load(fh)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
