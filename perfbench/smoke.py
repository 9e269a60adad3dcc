#!/usr/bin/env python3
"""Smoke run of every workload at tiny size, untraced and traced.

Checks that each run prints every metric BENCHMARK.json names for its
mode, with its unit and a finite value (end-to-end values above zero),
and that no document failed the correctness gate.

Usage (from the repository root): python3 perfbench/smoke.py
"""
import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TINY = {"crawl_lifecycle": {"docs": 300, "buckets": 2},
        "crawl_extract": {"docs": 300},
        "dedup_corpus": {"docs": 120},
        "oversize_mix": {"docs": 300}}
SHORT = {"warmup_passes": 1, "min_passes": 1}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    for w, over in TINY.items():
        cfg["workloads"][w].update(over, **SHORT)
    cfg["setup_reps"] = 1
    problems = []
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=os.path.join(ROOT, ".bench_build"),
                                     delete=False) as f:
        json.dump(cfg, f)
    try:
        for w in TINY:  # BENCHMARK.json's workloads and oversize_mix
            for trace, listed in ((0, "end_to_end"), (1, "per_layer")):
                r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                    "--workload", w, "--seed", "7", "--seconds", "1",
                                    "--trace", str(trace), "--config", f.name],
                                   stdout=subprocess.PIPE, text=True)
                tag = "%s trace=%d" % (w, trace)
                lines = r.stdout.strip().splitlines()
                if r.returncode != 0 or not lines:
                    problems.append("%s: exit code %d" % (tag, r.returncode))
                    continue
                res = json.loads(lines[-1])
                if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                    problems.append("%s: failed %s of %s" % (tag, res["failed"], res["attempted"]))
                for m in bench[listed]:
                    got = res["metrics"].get(m["name"])
                    if got is None or got.get("unit") != m["unit"]:
                        problems.append("%s: %s missing or wrong unit" % (tag, m["name"]))
                    elif not isinstance(got["value"], (int, float)) or not math.isfinite(got["value"]) \
                            or (trace == 0 and got["value"] <= 0):
                        problems.append("%s: %s = %r" % (tag, m["name"], got["value"]))
                extra = set(res["metrics"]) - {m["name"] for m in bench[listed]}
                if extra:
                    problems.append("%s: unlisted metrics %s" % (tag, sorted(extra)))
                print("%-28s ok=%s failed_ratio=%g" % (tag, not problems, res["failed"] / res["attempted"]))
    finally:
        os.remove(f.name)
    if problems:
        print("\n".join(problems))
        sys.exit(1)
    print("smoke: all workloads print every metric; failed_ratio is 0")


if __name__ == "__main__":
    main()
