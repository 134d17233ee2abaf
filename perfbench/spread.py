#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds and report, per
end-to-end metric, the median and the quartile spread (distance between
the first and third quartile as a share of the median) next to the
metric's bound.

Usage (from the repository root):
  python3 perfbench/spread.py --workload drain --seeds 1-10

Each run's result line is appended to .bench_build/spread/<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    outdir = os.path.join(build.BUILD, "spread")
    os.makedirs(outdir, exist_ok=True)
    log = os.path.join(outdir, f"{a.workload}.jsonl")
    values = {}
    for seed in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds",
             str(bench["run_seconds"]), "--trace", "0"],
            cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            res = {}
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "exit": r.returncode,
                                 "wall_s": wall, "result": res}) + "\n")
        print(f"seed {seed}: exit {r.returncode} wall {wall:.1f}s "
              f"failed {res.get('failed')}/{res.get('attempted')} " +
              " ".join(f"{k}={v['value']:.4g}"
                       for k, v in res.get("metrics", {}).items()), flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values.get(m["name"], [])
        if len(xs) < 2:
            continue
        sp = stats.spread(xs)
        print(f"{m['name']:<12} median {statistics.median(xs):12.4f} "
              f"spread {sp:.4f} bound {m['bound']} "
              f"{'ok' if sp < m['bound'] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
