#!/usr/bin/env python3
"""Steadiness check: run one workload k times, with seeds 1..k, and
print every metric's median, quartiles and spread (quartile distance as
a share of the median), next to the bound BENCHMARK.json gives it.

    python3 lakebench/steady.py --workload catalog_query --runs 5 [--trace 0]

Each run's line also shows the foreign load: the average number of
cores other processes kept busy while it ran (from /proc/stat, the way
graft.Bench reads it). A run with a high foreign load is suspect.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values, shares = {}, []
    for seed in range(1, a.runs + 1):
        t0 = time.time()
        p = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                               "--seconds", str(bench["run_seconds"]),
                                               "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        foreign = re.search(r"foreign_cores=([0-9.]+) \(steal ([0-9.]+)\)", p.stderr)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"run with seed {seed} failed (exit {p.returncode})")
        res = json.loads(lines[-1])
        shares.append(res["failed"] / res["attempted"])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall={wall:.0f}s foreign_cores="
              f"{foreign.group(1) + ' steal=' + foreign.group(2) if foreign else '?'} "
              f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"failed share per run: {sorted(set(shares))}")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE" if spread > b else "near")
        print(f"{k:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} {b if b is not None else '-':>6} {flag}")


if __name__ == "__main__":
    main()
