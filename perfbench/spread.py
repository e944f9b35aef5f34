#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and report, per
end-to-end metric, the median and the interquartile range as a share of
the median (the statistic the benchmark's bounds are judged against).

    python3 perfbench/spread.py <workload> [--seeds 10] [--first-seed 1]

Uses the run_seconds of BENCHMARK.json. Prints one line per metric and
appends every raw result to .bench_build/perfbench/spread-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(ROOT, ".bench_build", "perfbench", f"spread-{a.workload}.jsonl")
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            print(r.stderr[-3000:], file=sys.stderr)
            sys.exit(f"seed {seed}: exit {r.returncode}")
        res = json.loads(r.stdout.splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        b = bounds.get(k)
        flag = "" if b is None or spread < b / 3 else ("  > bound/3" if spread <= b else "  > BOUND")
        print(f"{a.workload:16s} {k:12s} median={med:.5g} iqr/median={spread:.4f} bound={b}{flag}")


if __name__ == "__main__":
    main()
