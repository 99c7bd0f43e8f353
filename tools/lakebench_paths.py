#!/usr/bin/env python3
"""Per-statement cost by read path from a lakebench trace.

Usage: python3 tools/lakebench_paths.py lakebench/.traces/<workload>-seed<n>.json

Prints one row per (path, kind) over the measured rounds (warm-up
rounds left out): the number of statements, how many failed, the
median statement ms of the ones that succeeded, and the Spark jobs per
statement. A job counts for the statement whose span it ran under
(`jobs[].span` -> `spans[].op`). The trace is only read.
"""
import collections
import json
import statistics
import sys


def rows(trace):
    measured = {o["id"]: o for o in trace["ops"] if not o["warm"]}
    span_op = {s["id"]: s["op"] for s in trace["spans"]}
    jobs = collections.Counter()
    for j in trace["jobs"]:
        op = span_op.get(j["span"])
        if op in measured:
            jobs[op] += 1
    groups = collections.defaultdict(list)
    for o in measured.values():
        groups[(o["path"], o["kind"])].append(o)
    for (path, kind), ops in sorted(groups.items()):
        ok = [o["ms"] for o in ops if o["ok"]]
        yield (path, kind, len(ops), len(ops) - len(ok),
               statistics.median(ok) if ok else None,
               statistics.fmean(jobs[o["id"]] for o in ops))


def main(path):
    with open(path) as f:
        trace = json.load(f)
    print(f"{'path':<6} {'kind':<12} {'n':>3} {'failed':>6} {'p50_ms':>8} {'jobs':>5}")
    for path_, kind, n, failed, p50, jobs in rows(trace):
        ms = f"{p50:8.1f}" if p50 is not None else f"{'-':>8}"
        print(f"{path_ or '-':<6} {kind:<12} {n:>3} {failed:>6} {ms} {jobs:5.1f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.strip().splitlines()[2])
    main(sys.argv[1])
