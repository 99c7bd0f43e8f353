#!/usr/bin/env python3
"""lakebench: graft's end-to-end and per-layer benchmark.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from the checkout (first run only),
generates the workload's inputs from the seed, runs them in one JVM
(Spark local[2]), checks the outputs against answers
computed from the generator's records, and prints one JSON line as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Progress goes to standard error. The exit code is
non-zero when the build, the run or a correctness check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

DEADLINE_S = 170          # the whole run, build excluded
BUILD_TIMEOUT_S = 840
CLASSPATH_FILE = os.path.join(HERE, "target", "lakebench.classpath")
# Two Spark cores, not all of them: the workloads are bound by driver
# work and per-job overhead, and leaving cores free for the machine's
# other load keeps run-to-run spread down. A fixed heap and young
# generation keep GC sizing the same from run to run.
SPARK_CORES = 2
JVM_MEMORY = ["-Xms1536m", "-Xmx1536m", "-Xmn512m"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"lakebench: {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads from the checkout."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build():
    """Compile graft and the benchmark unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    log("building graft and the benchmark with sbt (offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "lakebench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("lakebench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def box_jiffies():
    """(busy, total, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    return sum(v) - idle, sum(v), (v[7] if len(v) > 7 else 0)


def run_jvm(cp, args, work, timeout):
    """Run the benchmark JVM; returns (exit code, foreign cores, steal
    cores). Foreign cores: the average number of cores other
    processes kept busy while it ran, as graft.Bench reads it from
    /proc/stat; steal cores: the part of it the hypervisor took."""
    cmd = (["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "lakebench.Main"] + args)
    b0 = box_jiffies()
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             cwd=work, start_new_session=True)
        deadline = time.time() + timeout
        pid = 0
        try:
            while not pid:
                pid, status, ru = os.wait4(p.pid, os.WNOHANG)
                if not pid and time.time() > deadline:
                    log(f"the run did not finish within {timeout:.0f} s")
                    break
                time.sleep(0.05)
        finally:
            if not pid:  # timed out or interrupted: stop the JVM and wait for it
                os.killpg(p.pid, signal.SIGKILL)
                pid, status, ru = os.wait4(p.pid, 0)
        p.returncode = os.waitstatus_to_exitcode(status)
    b1 = box_jiffies()
    hz = os.sysconf("SC_CLK_TCK")
    own = (ru.ru_utime + ru.ru_stime) * hz
    per_core = os.cpu_count() / max(1, b1[1] - b0[1])
    foreign = max(0.0, (b1[0] - b0[0]) - own) * per_core
    return p.returncode, foreign, (b1[2] - b0[2]) * per_core


def input_bytes(workload, rec, rounds):
    """Bytes of generated input landed by the set-up and the first
    `rounds` rounds."""
    size = os.path.getsize
    if workload == "catalog_query":
        return sum(size(p) for p in rec["data_files"])
    if workload == "medallion_ingest":
        return sum(size(b["path"]) for b in rec["batches"][:rounds + 1])  # + the set-up batch
    return size(rec["corpus"]) + sum(size(b["path"]) for b in rec["batches"][:rounds])


def main():
    ap = argparse.ArgumentParser(description="graft lakebench")
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("lakebench: graft's sources (src/main/scala/graft) are not next to the benchmark")

    cp = build()
    started = time.time()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        rec = gen.generate(a.workload, a.seed, os.path.join(work, "inputs"), a.seconds)
        out = os.path.join(work, "result.json")
        cores = min(SPARK_CORES, os.cpu_count() or 1)
        code, foreign, steal = run_jvm(cp, [
            "--workload", a.workload, "--inputs", os.path.join(work, "inputs"),
            "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", out, "--cores", str(cores)], work, DEADLINE_S - (time.time() - started))
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            raise SystemExit(f"lakebench: the benchmark JVM failed (exit {code})")
        with open(out) as f:
            res = json.load(f)
        log(f"cpus={os.cpu_count()} spark_cores={cores} foreign_cores={foreign:.3f} "
            f"(steal {steal:.3f})")
        if res["inputs_exhausted"]:
            log("warning: the run used up its generated inputs before its time was over")

        errs = check.CHECKS[a.workload](rec, res["check"])
        measured = [o for o in res["ops"] if not o["warm"]]
        ok = [o["ms"] for o in measured if o["ok"]]
        failed = len(measured) - len(ok)
        for o in measured:
            if not o["ok"] and o["kind"] != check.KNOWN_FAILING:
                errs.append(f"operation {o['kind']} of round {o['round']} failed: {o['err']}")
        if not ok:
            errs.append("no operation completed")
        for e in errs:
            log(f"CHECK FAILED: {e}")
        if a.trace:
            traces = os.path.join(HERE, ".traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump({"layers": res["layers"], **res["trace"]}, f)
            values = res["layers"]
        else:
            values = {
                "setup_s": statistics.median(res["setup_s"]),
                "op_p50_ms": round_median(measured),
                "op_cpu_ms": round_median(measured, "cpu_ms"),
                "ops_per_s": len(ok) / res["measure_s"],
                "live_heap_mb": res["live_heap_mb"],
                "stored_bytes_per_input_byte":
                    res["lake_bytes"] / input_bytes(a.workload, rec, res["probe_rounds"]),
            }
        # exactly the metrics BENCHMARK.json lists, with its units
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            listed = json.load(f)["per_layer" if a.trace else "end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
        log(f"JVM and Spark start {res['start_s']:.2f} s, set-ups "
            f"{', '.join('%.2f' % s for s in res['setup_s'])} s, warm-up {res['warm_s']:.2f} s, "
            f"{len(measured)} operations measured over {res['measure_s']:.2f} s, "
            f"round means {' '.join('%.0f' % m for m in round_means(measured))} ms")
        print(json.dumps({"correct": not errs, "attempted": len(measured), "failed": failed,
                          "metrics": metrics}))
        sys.stdout.flush()
        if errs:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def round_means(ops, key="ms"):
    """Each round's mean of `key` over its successful operations, in order."""
    by_round = {}
    for o in ops:
        if o["ok"]:
            by_round.setdefault(o["round"], []).append(o[key])
    return [statistics.fmean(v) for _, v in sorted(by_round.items())]


def round_median(ops, key="ms"):
    """Median over the measured rounds of a round's mean `key`, the
    operations' latency or CPU time. Every round of a workload runs the
    same mix of operations, so this is the plain median where a round is
    one operation, and on a mixed round it does not depend on where the
    median of the mix falls between its fast and slow statements."""
    means = round_means(ops, key)
    return statistics.median(means) if means else 0.0


if __name__ == "__main__":
    # a terminated run still stops its JVM (see run_jvm) and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
