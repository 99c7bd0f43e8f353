#!/usr/bin/env python3
"""Per-span split of time into Spark jobs and driver work, from a lakebench trace.

Usage: python3 tools/lakebench_spans.py lakebench/.traces/<workload>-seed<n>.json

Prints one row per span name over the measured operations (warm-up
operations left out): how many operations call it, the median span ms
per operation, the mean number of Spark jobs per operation, the median
job wall ms (the union of the jobs' intervals, so overlapping jobs
count once) and the median driver ms, which is span ms minus job wall
ms. A span's jobs include those of the spans nested in it, so the `op`
row splits the whole operation. A job without a span is given to the
innermost span of its operation whose interval holds the job's start,
as lakebench's own per-layer figures do. The trace is only read.
"""
import collections
import json
import statistics
import sys


def union_ms(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e < 0:
            continue  # a job the run never saw end
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def rows(trace):
    measured = {o["id"] for o in trace["ops"] if not o["warm"]}
    spans = {s["id"]: s for s in trace["spans"]}

    def innermost(start):
        hold = [s for s in spans.values() if s["start_ms"] <= start <= s["end_ms"]]
        return max(hold, key=lambda s: s["start_ms"])["id"] if hold else -1

    def ancestors(sid):
        while sid >= 0:
            yield sid
            sid = spans[sid]["parent"]

    jobs_in = collections.defaultdict(list)
    for j in trace["jobs"]:
        sid = j["span"] if j["span"] >= 0 else innermost(j["start_ms"])
        if sid in spans:
            for a in ancestors(sid):
                jobs_in[a].append((j["start_ms"], j["end_ms"]))

    # per (name, op): span ms, job count and job wall summed over the
    # op's spans of that name
    per = collections.defaultdict(lambda: [0.0, 0, 0.0])
    for s in spans.values():
        if s["op"] not in measured:
            continue
        acc = per[(s["name"], s["op"])]
        acc[0] += s["ms"]
        acc[1] += len(jobs_in[s["id"]])
        acc[2] += union_ms(jobs_in[s["id"]])
    by_name = collections.defaultdict(list)
    for (name, _), acc in per.items():
        by_name[name].append(acc)
    for name, accs in sorted(by_name.items()):
        yield (name, len(accs),
               statistics.median(a[0] for a in accs),
               statistics.fmean(a[1] for a in accs),
               statistics.median(a[2] for a in accs),
               statistics.median(a[0] - a[2] for a in accs))


def main(path):
    with open(path) as f:
        trace = json.load(f)
    print(f"{'span':<16} {'ops':>3} {'p50_ms':>8} {'jobs':>5} {'job_ms':>8} {'driver_ms':>9}")
    for name, n, ms, jobs, job_ms, driver_ms in rows(trace):
        print(f"{name:<16} {n:>3} {ms:8.1f} {jobs:5.1f} {job_ms:8.1f} {driver_ms:9.1f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.strip().splitlines()[2])
    main(sys.argv[1])
