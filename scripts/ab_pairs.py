#!/usr/bin/env python3
"""Runs alternating A/B pairs of the benchmark on two checkouts and judges them.

    python3 scripts/ab_pairs.py --parent <checkout> --change <checkout> \
        --workload <etl|gates> --seeds 1-10 [--seconds 10] [--out <file.json>]

For each seed, runs ``perfbench/run.py --trace 0`` once in each checkout,
one after the other; the parent goes first on even-numbered pairs and the
change on odd ones, so neither side always runs on the warmer host. Each
checkout builds and runs its own sources, under its own ``target/``.

Prints one line per run, then per end-to-end metric (names, direction and
bounds from the change checkout's ``BENCHMARK.json``): each side's median
and quartiles (``statistics.quantiles``, n=4), the change's wins (pairs
where it is strictly better; ties count for neither side), whether the
change's median is worse than the parent's by more than the metric's
bound, and whether a gain would hold: at least nine tenths of the pairs
won and a median gap, in the better direction, larger than the distance
between the parent's quartiles. After each run it also reads that run's
``target/perfbench/runs/<workload>-s<seed>-t0/record.json`` and prints
each call's median timed wall; at the end, per call, both sides' medians
of those and the change's wins, so a change shows which calls moved.
``--out`` also writes every run and both tables as JSON. Reads
``perfbench/``, ``BENCHMARK.json`` and the run records; writes nothing
under ``perfbench/``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True, timeout=1200)
    if proc.returncode != 0:
        sys.exit(f"{checkout} seed {seed}: run.py exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def call_walls(checkout, workload, seed):
    """Each call's median wall (s) over the timed passes of the run just made."""
    path = os.path.join(checkout, "target", "perfbench", "runs",
                        f"{workload}-s{seed}-t0", "record.json")
    with open(path) as f:
        samples = json.load(f)["samples"]
    walls = {}
    for s in samples:
        if s["pass"] > 0:
            walls.setdefault(s["call"], []).append(s["wall_s"])
    return {call: statistics.median(w) for call, w in walls.items()}


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def judge(parent, change, better, bound):
    """The table row of one metric from the two sides' paired values."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    p_med, c_med = statistics.median(parent), statistics.median(change)
    p_q1, p_q3 = quartiles(parent)
    c_q1, c_q3 = quartiles(change)
    gap = sign * (p_med - c_med)  # > 0 when the change is better
    return {"parent": {"median": p_med, "q1": p_q1, "q3": p_q3},
            "change": {"median": c_med, "q1": c_q1, "q3": c_q3},
            "wins": wins, "pairs": len(parent),
            "rel_change": (c_med - p_med) / p_med if p_med else None,
            "beyond_bound": bool(p_med) and -gap / abs(p_med) > bound,
            "gain_holds": wins * 10 >= 9 * len(parent) and gap > p_q3 - p_q1}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1-6,11")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--out", help="write the runs and the table here as JSON")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    pairs = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = run(sides[side], a.workload, seed, a.seconds)
            pair[side] = res
            res["call_wall_s"] = call_walls(sides[side], a.workload, seed)
            vals = " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
                            for m in metrics)
            print(f"seed {seed} {side:6s} failed {res['failed']}/{res['attempted']} {vals}",
                  flush=True)
            print("  calls: " + " ".join(f"{c}={w:.3f}" for c, w in res["call_wall_s"].items()),
                  flush=True)
        pairs.append(pair)
    table = {}
    for m in metrics:
        name = m["name"]
        table[name] = judge([p["parent"]["metrics"][name]["value"] for p in pairs],
                            [p["change"]["metrics"][name]["value"] for p in pairs],
                            m["better"], m["bound"])
    failed = {s: sum(p[s]["failed"] for p in pairs) for s in sides}
    attempted = {s: sum(p[s]["attempted"] for p in pairs) for s in sides}
    print(f"\n{a.workload}: {len(pairs)} pairs, seeds {a.seeds}, --seconds {a.seconds:g}; "
          f"failed parent {failed['parent']}/{attempted['parent']}, "
          f"change {failed['change']}/{attempted['change']}")
    print(f"{'metric':14s} {'parent median [q1, q3]':28s} {'change median [q1, q3]':28s} "
          f"{'rel':>7s} {'wins':>6s}  beyond_bound  gain_holds")
    for name, t in table.items():
        p, c = t["parent"], t["change"]
        rel = f"{100 * t['rel_change']:+.1f}%" if t["rel_change"] is not None else "n/a"
        print(f"{name:14s} {p['median']:9.4g} [{p['q1']:.4g}, {p['q3']:.4g}]".ljust(44)
              + f"{c['median']:9.4g} [{c['q1']:.4g}, {c['q3']:.4g}]".ljust(29)
              + f"{rel:>7s} {t['wins']:>2d}/{t['pairs']:<3d}  {str(t['beyond_bound']):12s}  "
              + str(t["gain_holds"]))
    calls = {}
    for call in pairs[0]["change"]["call_wall_s"]:
        calls[call] = judge([p["parent"]["call_wall_s"][call] for p in pairs],
                            [p["change"]["call_wall_s"][call] for p in pairs],
                            "lower", float("inf"))
    print(f"\n{'call (median timed wall, s)':32s} {'parent':>8s} {'change':>8s} {'rel':>7s} {'wins':>6s}")
    for call, t in calls.items():
        rel = f"{100 * t['rel_change']:+.1f}%" if t["rel_change"] is not None else "n/a"
        print(f"{call:32s} {t['parent']['median']:8.3f} {t['change']['median']:8.3f} "
              f"{rel:>7s} {t['wins']:>2d}/{t['pairs']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
                       "sides": sides, "table": table, "calls": calls, "pairs": pairs},
                      f, indent=1)


if __name__ == "__main__":
    main()
