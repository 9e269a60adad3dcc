#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result JSON as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 8 --trace 0

Builds the program from source on first use (perfbench/build.py), then
starts one JVM with the heap, GC and module flags in
perfbench/workloads.json. Workloads, sizes and the class mix live in
workloads.json; metric names and units in BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--config", default=os.path.join(HERE, "workloads.json"),
                    help="workload sizes (the smoke run passes a tiny copy)")
    a = ap.parse_args()

    config = os.path.abspath(a.config)
    bench = os.path.join(ROOT, "BENCHMARK.json")
    with open(config) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        sys.exit("unknown workload %r" % a.workload)
    try:
        build.build()
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        sys.exit("build failed: %s" % e)

    work = os.path.join(ROOT, ".bench_build", "perfbench", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = build.java_cmd(work) + [
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--config", config, "--bench", bench, "--work", work,
              "--traces", os.path.join(ROOT, ".bench_build", "perfbench", "traces")]
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, env=build.java_env(work), stdout=subprocess.PIPE,
                         stderr=log, text=True, start_new_session=True)
    out, timed_out = "", False
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        timed_out = True
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        log.close()
    lines = out.strip().splitlines()
    failed = timed_out or p.returncode != 0 or not lines
    if failed:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.writelines(f.readlines()[-40:])
    shutil.rmtree(work, ignore_errors=True)
    if failed:
        sys.stdout.write(out)
        sys.exit("run timed out after %d s" % RUN_TIMEOUT_S if timed_out
                 else "benchmark JVM exited with code %d" % p.returncode)
    result = json.loads(lines[-1])
    sys.stdout.write("\n".join(lines[:-1]) + "\n")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
