#!/usr/bin/env python3
"""Runs one workload over a set of seeds and reports how steady it is.

    python3 perfbench/steadiness.py --workload <name> --seeds 101-110 \
        [--seconds 10]

Runs ``perfbench/run.py --trace 0`` once per seed, one run after another,
and prints for each end-to-end metric its median and its spread, the
distance between the first and third quartile (``statistics.quantiles``,
n=4) as a share of the median, with each run's host-speed stamps beside
the values and the range of the command's own wall time. The table is
also written to
target/perfbench/steadiness/<workload>-<seeds>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--seconds", type=float, default=10.0)
    a = ap.parse_args()
    runs = []
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(os.path.join(ROOT, "target", "perfbench", "runs",
                               f"{a.workload}-s{seed}-t0", "record.json")) as f:
            record = json.load(f)
        host = record["host"]
        runs.append({"seed": seed, "result": result, "host": host, "command_s": wall,
                     "setup_parts": record["setup_parts"]})
        vals = " ".join(f"{m}={v['value']:.4g}" for m, v in result["metrics"].items())
        print(f"seed {seed}: failed {result['failed']}/{result['attempted']} {vals} | "
              f"loop {host['loop_before_s']:.3f}/{host['loop_after_s']:.3f} s "
              f"steal {host['steal_pct'] or 0:.1f}% | command {wall:.1f} s", flush=True)
    metrics = list(runs[0]["result"]["metrics"])
    table = {m: {"median": statistics.median(r["result"]["metrics"][m]["value"] for r in runs),
                 "spread": spread([r["result"]["metrics"][m]["value"] for r in runs])}
             for m in metrics}
    loops = [x for r in runs for x in (r["host"]["loop_before_s"], r["host"]["loop_after_s"])]
    steal = [r["host"]["steal_pct"] or 0.0 for r in runs]
    walls = [r["command_s"] for r in runs]
    summary = {"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
               "metrics": table, "host_loop_s": [min(loops), max(loops)],
               "steal_pct": [min(steal), max(steal)], "command_s": [min(walls), max(walls)],
               "failed": sum(r["result"]["failed"] for r in runs), "runs": runs}
    out = os.path.join(ROOT, "target", "perfbench", "steadiness")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{a.workload}-{a.seeds}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    for m, t in table.items():
        print(f"{a.workload:6s} {m:14s} median {t['median']:.4g}  IQR/median {t['spread']:.3f}")
    print(f"host loop {min(loops):.3f}-{max(loops):.3f} s, steal "
          f"{min(steal):.1f}-{max(steal):.1f}%, command {min(walls):.1f}-{max(walls):.1f} s, "
          f"failed {summary['failed']}")


if __name__ == "__main__":
    main()
