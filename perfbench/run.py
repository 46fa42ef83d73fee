#!/usr/bin/env python3
"""Repository benchmark: one workload run, one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload {nightly_cycle,analytics_batch}
                           --seed N --seconds S --trace {0,1}

Builds the repository's sources and the benchmark code in perfbench/src
with perfbench/build.py (first run only, keyed by a hash of the sources),
generates the fixed base corpus (first run only), runs the workload in one
JVM on local[nproc], checks every answer, and prints as the last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Data, run state and traces go under <repo>/.bench_build; the
run's own state directory is removed at exit. A wrong answer or a failed
operation exits 1.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
from build import build  # noqa: E402  (perfbench/build.py)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("nightly_cycle", "analytics_batch")
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def base_data():
    data = os.path.join(BUILD, "data")
    if not os.path.exists(os.path.join(data, "_DONE")):
        log("generating the base corpus")
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), data],
                       check=True, timeout=300)
        open(os.path.join(data, "_DONE"), "w").close()
    return data


def oracle_check(data, check_dir):
    """Compare analytics results with their DuckDB oracles (scripts/compare.py)."""
    res = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "compare.py"), data, check_dir],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=150)
    for line in res.stdout.splitlines():
        if line.startswith("FAIL") or " pass, " in line:
            log(f"oracle: {line}")
    return res.returncode == 0


def run_jvm(args, classpath, data, run_dir, deadline):
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--run", run_dir, "--out", out,
              "--trace-dir", os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}")])
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def main():
    t0 = time.time()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        raise SystemExit(f"perfbench: no repository sources under {SOURCES}")

    classpath = build()
    data = base_data()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        # the limit counts from the measured part: the first run also builds
        res = run_jvm(args, classpath, data, run_dir, time.time() + RUN_LIMIT_S)
        correct = bool(res["correct"])
        if args.workload == "analytics_batch":
            t1 = time.time()
            correct = oracle_check(data, os.path.join(run_dir, "check")) and correct
            log(f"oracle check {time.time() - t1:.1f}s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    line = {"correct": correct, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": res["metrics"]}
    log(f"{args.workload} seed {args.seed}: {time.time() - t0:.1f}s wall")
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
