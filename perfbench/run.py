#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload profile_batch --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark from source when needed (build.py),
then runs one JVM (perfbench.Main) at local[nproc] inside a scratch
directory of the checkout, .bench_work. Prints one line per metric with its unit, a
load stamp, and as the last line a JSON object with the keys correct,
attempted, failed and metrics. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer ones. Every result record, with its load stamp
(load average, nproc, JDK and Spark versions, CPU steal), is also
appended to .bench_out/results.jsonl.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["profile_batch", "profile_monitor", "exact_analytics"]
# A run must end within 180 s once the program is built.
RUN_LIMIT_S = 170


def cpu_ticks():
    """(steal, total) CPU ticks since boot, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not build.program_present():
        print("run.py: no program sources under src/main/scala; nothing to benchmark",
              file=sys.stderr)
        return 2

    build.build()
    started = time.monotonic()
    work = os.path.join(build.ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = build.jvm_command(
        "perfbench.Main",
        ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", args.trace, "--work", work, "--out", out],
        os.path.join(work, "tmp"))

    ticks_before = cpu_ticks()
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=build.ROOT)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None

    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
        print(f"run.py: benchmark JVM {'timed out' if rc is None else f'exited {rc}'}",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    with open(out) as f:
        record = json.load(f)
    ticks_after = cpu_ticks()
    if ticks_before and ticks_after and ticks_after[1] > ticks_before[1]:
        # CPU time the hypervisor gave to other guests while this run wanted it
        record["stamp"]["cpu_steal_pct"] = round(
            100.0 * (ticks_after[0] - ticks_before[0]) / (ticks_after[1] - ticks_before[1]), 2)
    results = os.path.join(build.ROOT, ".bench_out")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    if args.trace == "1":
        shutil.copy(os.path.join(work, "trace-spans.jsonl"),
                    os.path.join(results, f"spans-{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    for line in record["report"]:
        print(line)
    if args.trace == "1":
        for name, m in sorted(record["metrics"].items()):
            print(f"{args.workload} {name} {m['value']} {m['unit']}")
    print("load " + " ".join(f"{k}={v}" for k, v in record["stamp"].items()))
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
