#!/usr/bin/env python3
"""Steadiness check: run one workload k times with seeds 1..k and print, for
each end-to-end metric, the median, the quartiles and the spread (quartile
distance over the median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--seed0 1]

Each run's result line is kept in .bench_build/results/<workload>-<seed>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out_dir = os.path.join(ROOT, ".bench_build", "results")
    os.makedirs(out_dir, exist_ok=True)
    values = {name: [] for name in bounds}
    fail_shares = []
    for seed in range(a.seed0, a.seed0 + a.runs):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed with exit {p.returncode}")
        res = json.loads(lines[-1])
        with open(os.path.join(out_dir, f"{a.workload}-{seed}.json"), "w") as f:
            f.write(lines[-1] + "\n")
        if not res["correct"]:
            sys.exit(f"seed {seed}: outputs incorrect")
        fail_shares.append(res["failed"] / res["attempted"])
        for name in bounds:
            values[name].append(res["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items()), flush=True)
    print(f"\n{a.workload}: {a.runs} runs, failed share {sorted(set(fail_shares))}")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        flag = "" if spread <= bounds[name] else "  over bound"
        print(f"{name:<14}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}{bounds[name]:>8}{flag}")


if __name__ == "__main__":
    main()
