#!/usr/bin/env python3
"""Checks that the work of a workload does not depend on its seed.

    python3 perfbench/invariance.py --workload <name> --seeds <a> <b> \
        [--seconds 10]

Makes one traced run per seed (``perfbench/run.py --trace 1``) and
compares the per-pass work counts of the two: ``exec.jobs``,
``exec.stages``, ``streaming.batches`` and ``sources.scan_rows`` must be
identical, ``exec.tasks`` and ``shuffle.records`` within 2%. Prints each
count at both seeds and every failure either run recorded, with its
cause; exits 1 when a count breaks its rule or a call failed.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
IDENTICAL = ["exec.jobs", "exec.stages", "streaming.batches", "sources.scan_rows"]
WITHIN = {"exec.tasks": 0.02, "shuffle.records": 0.02}


def traced_record(workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, stdout=subprocess.DEVNULL, timeout=900)
    if proc.returncode != 0:
        sys.exit(f"seed {seed}: run.py exited with {proc.returncode}")
    with open(os.path.join(ROOT, "target", "perfbench", "runs",
                           f"{workload}-s{seed}-t1", "record.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs=2, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    a = ap.parse_args()
    recs = [traced_record(a.workload, s, a.seconds) for s in a.seeds]
    ok = True
    for m in IDENTICAL + list(WITHIN):
        x, y = (r["metrics"][m]["value"] for r in recs)
        rel = abs(x - y) / max(abs(x), abs(y), 1e-12)
        good = x == y if m in IDENTICAL else rel <= WITHIN[m]
        ok &= good
        rule = "identical" if m in IDENTICAL else f"within {WITHIN[m]:.0%}"
        print(f"{a.workload:6s} {m:20s} {x:14.6g} {y:14.6g}  diff {rel:.4f}  "
              f"{rule}: {'ok' if good else 'BROKEN'}")
    for seed, r in zip(a.seeds, recs):
        for f in r["failures"]:
            ok = False
            print(f"seed {seed}: FAILED {f['call']} pass {f['pass']}: {f['reason']}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
