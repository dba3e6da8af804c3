#!/usr/bin/env python3
"""perfbench: graft's benchmark.

    python3 perfbench/run.py --workload <etl|gates> --seed <n> \
        --seconds <s> --trace <0|1>

Builds graft and the harness from source (perfbench/build.py), makes the
workload's inputs from the seed (perfbench/gen.py), runs the harness in
one JVM on local[N] with N = min(4, nproc) // 2, checks every output
against its oracle (perfbench/oracle.py), and prints every metric with
its unit, then one JSON object as the last line: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Every run
writes its full record (environment and host-speed stamps, every
sample, failures, ledger rows and spans) to
target/perfbench/runs/<workload>-s<seed>-t<trace>/record.json. The
metrics are defined in perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, "target", "perfbench")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

with open(os.path.join(HERE, "workloads.json")) as _f:
    WORKLOADS = json.load(_f)

END_TO_END = {"setup_s": "s", "pass_s": "s", "call_p50_s": "s",
              "call_tail_s": "s", "cpu_s": "s", "live_heap_mb": "MB"}
# per-layer metrics summed over the calls of a traced pass, per pass
SUMMED = {
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "plans.actions": "count", "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.plan_nodes": "count",
    "sources.schema_jobs": "count", "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes", "sources.write_bytes": "bytes",
    "sources.write_ms": "ms",
    "core.map_task_ms": "ms", "core.reduce_task_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_wall_ms": "ms", "exec.task_ms": "ms", "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.sched_delay_ms": "ms", "exec.driver_gap_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.records": "count", "shuffle.fetch_wait_ms": "ms",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.outside_batch_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mem_bytes": "bytes",
}
# per-layer metrics read as the peak within a traced pass (median over passes)
PEAK = {"state.persisted_rdds": "count", "state.pinned_rdds": "count",
        "state.cached_bytes": "bytes", "exec.skew_max": "ratio"}
DERIVED = {
    "sources.write_amp": "ratio", "core.combine_ratio": "ratio",
    "exec.slot_util": "ratio", "shuffle.bytes_per_input_byte": "ratio",
    "streaming.data_batch_frac": "ratio", "streaming.batch_p50_ms": "ms",
    "streaming.batch_tail_ms": "ms",
    "jvm.setup_jit_ms": "ms", "jvm.setup_gc_ms": "ms", "jvm.timed_gc_ms": "ms",
    "share.job_wall": "ratio", "share.fixed_cost": "ratio",
    "share.stream_trigger": "ratio",
    "check.failed_frac": "ratio", "check.mismatches": "count",
    "check.no_oracle": "count", "trace.overhead_pct": "%",
}
PER_LAYER = {**SUMMED, **PEAK, **DERIVED}
TAIL_BEYOND = 10
JVM_HEAP = "2g"
JVM_FLAGS = [f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             "-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
WARM_PASSES = 3
# Time limits of one command. A build that compiles may take up to
# build.BUILD_LIMIT_S (720 s). Everything after the build (inputs, host
# loops, harness, oracle check, run record) must end within RUN_LIMIT_S,
# or the command stops its harness and exits non-zero. So a command that
# compiles nothing, where the build only hashes the sources, ends within
# 180 s, and one that compiles within 900 s.
RUN_LIMIT_S = 170
# iterations of the host-speed loop: about 1 s of one core on a 4-core VM
HOST_LOOP = 8_000_000


class BenchError(Exception):
    pass


class OverTime(BaseException):
    """Raised by SIGALRM at RUN_LIMIT_S. A BaseException, so that the
    ``except Exception`` of the imported oracle code cannot swallow it."""


def _over_time(signum, frame):
    raise OverTime(f"the run did not finish within {RUN_LIMIT_S} s after the build")


def cores():
    """Task slots: half the cores (at most 4), so that the task threads,
    the driver thread and the JVM's JIT compiler threads together stay
    within the cores."""
    return max(1, min(4, os.cpu_count() or 1) // 2)


def host_loop_s():
    """Seconds one core takes for a fixed integer loop: a host-speed stamp,
    recorded beside every run and never used to scale a metric."""
    t = time.perf_counter()
    x = 0
    for i in range(HOST_LOOP):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t


def cpu_ticks():
    """The aggregate line of /proc/stat (user ... steal), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of all CPU time the hypervisor took from this machine's
    cores between two cpu_ticks() readings."""
    if not before or not after or len(before) < 8 or len(after) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta))


def git_rev():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], timeout=10,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def source_digest():
    """Stands in for the git revision where the checkout is not a repository."""
    h = hashlib.sha256()
    for d in (os.path.join(ROOT, "src", "main"), HERE):
        for base, dirs, files in sorted(os.walk(d)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".scala", ".py", ".json")):
                    with open(os.path.join(base, f), "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def inputs(name, seed):
    """Makes (or reuses) the workload's seeded inputs; returns (dir, stats)."""
    spec = WORKLOADS[name]["input"]
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        code = hashlib.sha256(f.read() + json.dumps(spec, sort_keys=True).encode())
    key = f"{spec['family']}-{code.hexdigest()[:12]}-s{seed}"
    root = os.path.join(WORK, "data")
    out = os.path.join(root, key)
    done = os.path.join(out, "_stats.json")
    if not os.path.isfile(done):
        # made in place (the TSV index names absolute shard paths);
        # _stats.json, written last, marks a complete set
        shutil.rmtree(out, ignore_errors=True)
        if spec["family"] == "star":
            stats = gen.star(out, seed, spec["sf"])
        elif spec["family"] == "tsv":
            stats = gen.tsv(out, seed, spec["shards"], spec["rows_per_shard"])
        else:
            raise BenchError(f"unknown input family {spec['family']}")
        with open(done, "w") as f:
            json.dump(stats, f)
    # keep the six most recent input sets
    olds = sorted(os.listdir(root), key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for d in olds[:-6]:
        if d != key:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    os.utime(out)
    with open(done) as f:
        return out, json.load(f)


def java_cmd(classpath, run_dir, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return cmd + JVM_FLAGS + [
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join(classpath), "perfbench.Main", *args]


def nearest_rank(sorted_values, pct):
    # rounded so that a percentile made from a count gives back its rank
    k = max(1, math.ceil(round(pct / 100.0 * len(sorted_values), 9)))
    return sorted_values[k - 1]


def tail_percentile(n):
    """The highest percentile of n samples with TAIL_BEYOND samples
    beyond it."""
    return 100.0 * (n - TAIL_BEYOND) / n if n > TAIL_BEYOND else None


def judge(res, verdict):
    """Counts the calls attempted after the reference warm pass, failed
    (an error or a wrong output) and wrong; lists every failure with its
    cause."""
    warm = {w["call"]: w for w in res["warm"]}
    failures = [{"call": c, "pass": 0, "reason": warm[c]["error"] or v}
                for c, v in verdict.items() if v not in (oracle.OK, oracle.NO_ORACLE)]
    bad_warm = {f["call"] for f in failures}
    failed = wrong = 0
    for s in res["samples"]:
        reason = s["error"]
        if not reason and s["call"] in bad_warm:
            reason = "warm output failed its check"
        elif not reason and s["fp"] != warm[s["call"]]["fp"]:
            reason = "output differs from the checked warm output"
        if reason:
            failed += 1
            wrong += not s["error"]
            failures.append({"call": s["call"], "pass": s["pass"], "reason": reason})
    return len(res["samples"]), failed, wrong, failures


def end_to_end(res, min_passes):
    walls = [p["wall_s"] for p in res["passes"]]
    lat = sorted(s["wall_s"] for s in res["samples"] if s["pass"] > 0)
    # the percentile follows from the guaranteed sample count, so that
    # every run of a workload reports the same one
    guaranteed = min_passes * len(res["calls"])
    pct = tail_percentile(guaranteed)
    if pct is None:
        raise BenchError(f"min_passes guarantees only {guaranteed} call samples")
    values = {
        "setup_s": res["setup_s"],
        "pass_s": sum(walls) / len(walls),
        "call_p50_s": statistics.median(lat),
        "call_tail_s": nearest_rank(lat, pct),
        "cpu_s": res["window_cpu_s"] / len(walls),
        "live_heap_mb": res["live_heap_mb"],
    }
    extra = {"passes": len(walls), "window_s": res["window_s"], "call_samples": len(lat),
             "call_tail_percentile": pct, "call_tail_guaranteed_samples": guaranteed}
    return values, extra


def per_layer(res, input_bytes, n_cores):
    rows = res["ledger"]
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    if not traced or not plain:
        raise BenchError("a traced run needs at least two timed passes")
    k = len(traced)
    tot = {m: sum(r[m] for r in rows) for m in SUMMED}
    for m in ("streaming.data_batches", "core.input_records", "core.shuffle_records"):
        tot[m] = sum(r[m] for r in rows)
    v = {m: tot[m] / k for m in SUMMED}
    by_pass = {}
    for r in rows:
        by_pass.setdefault(r["pass"], []).append(r)
    for m in PEAK:
        v[m] = statistics.median(max(r[m] for r in rs) for rs in by_pass.values())
    v["sources.write_amp"] = v["sources.write_bytes"] / input_bytes
    v["core.combine_ratio"] = tot["core.shuffle_records"] / max(1, tot["core.input_records"])
    v["exec.slot_util"] = tot["exec.task_ms"] / max(1.0, tot["exec.job_wall_ms"] * n_cores)
    v["shuffle.bytes_per_input_byte"] = v["shuffle.write_bytes"] / input_bytes
    v["streaming.data_batch_frac"] = \
        tot["streaming.data_batches"] / max(1, tot["streaming.batches"])
    batches = sorted(b for r in rows for b in r["batch_trigger_ms"])
    pct = tail_percentile(len(batches))
    v["streaming.batch_p50_ms"] = statistics.median(batches) if batches else 0.0
    v["streaming.batch_tail_ms"] = nearest_rank(batches, pct) if pct else \
        (max(batches) if batches else 0.0)
    v["jvm.setup_jit_ms"] = res["setup_jvm_jit_ms"]
    v["jvm.setup_gc_ms"] = res["setup_jvm_gc_ms"]
    v["jvm.timed_gc_ms"] = statistics.mean(p["jvm_gc_ms"] for p in res["passes"])
    v["trace.overhead_pct"] = 100.0 * (
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in plain) - 1.0)

    def share(part, subset):
        return sum(r[part] for r in subset) / max(1.0, sum(r["wall_ms"] for r in subset))
    batch = [r for r in rows if r["streaming.batches"] == 0]
    micro = [r for r in rows if r["streaming.batches"] > 0]
    v["share.job_wall"] = share("exec.job_wall_ms", rows)
    v["share.fixed_cost"] = share("exec.driver_gap_ms", batch)
    v["share.stream_trigger"] = share("streaming.trigger_ms", micro)
    extra = {"batch_samples": len(batches), "batch_tail_percentile": pct,
             "traced_passes": len(traced), "untraced_passes": len(plain)}
    return v, extra


def run_workload(name, seed, seconds, trace):
    spec = WORKLOADS[name]
    os.makedirs(WORK, exist_ok=True)
    classpath = build.build(WORK)
    signal.signal(signal.SIGALRM, _over_time)
    signal.alarm(RUN_LIMIT_S)
    data, stats = inputs(name, seed)
    input_bytes = sum(t["bytes"] for t in stats.values())
    run_dir = os.path.join(WORK, "runs", f"{name}-s{seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    n = cores()
    args = ["--workload", name, "--data", data, "--out", run_dir,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(n),
            "--warm-passes", str(WARM_PASSES),
            "--min-passes", str(spec["min_passes"])]
    if spec.get("gates"):
        args += ["--gates", ",".join(spec["gates"])]
    log_path = os.path.join(run_dir, "jvm.log")
    ticks0 = cpu_ticks()
    host_before = host_loop_s()
    with open(log_path, "w") as log:
        t0_us = time.time_ns() // 1000
        cmd = java_cmd(classpath, run_dir, args + ["--t0-us", str(t0_us)])
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait()
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    host_after = host_loop_s()
    host_steal = steal_pct(ticks0, cpu_ticks())
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{name}: the harness exited with {code}:\n{tail}")
    with open(result_path) as f:
        res = json.load(f)

    verdict = oracle.check(name, data, os.path.join(run_dir, "outputs"), res["calls"])
    attempted, failed, wrong, failures = judge(res, verdict)
    if trace:
        metrics, extra = per_layer(res, input_bytes, n)
        metrics["check.failed_frac"] = failed / attempted
        metrics["check.mismatches"] = wrong
        metrics["check.no_oracle"] = sum(v == oracle.NO_ORACLE for v in verdict.values())
        units = PER_LAYER
    else:
        metrics, extra = end_to_end(res, spec["min_passes"])
        units = END_TO_END
    if set(metrics) != set(units):
        raise BenchError(f"{name}: metric set differs from its declaration")
    metrics = {m: metrics[m] for m in units}
    spans = []
    spans_path = os.path.join(run_dir, "spans.jsonl")
    if os.path.isfile(spans_path):
        with open(spans_path) as f:
            spans = [json.loads(line) for line in f]
    record = {
        "workload": name, "why": spec["why"], "seed": seed, "trace": trace,
        "seconds": seconds,
        "env": {"nproc": os.cpu_count(), "cores": n, "jvm_flags": res["jvm_flags"],
                "java": res["java_version"], "spark": res["spark_version"],
                "git_rev": git_rev(), "source_digest": source_digest()},
        "host": {"loop_before_s": host_before, "loop_after_s": host_after,
                 "steal_pct": host_steal},
        "input": {"dir": os.path.relpath(data, ROOT), "tables": stats,
                  "rows": sum(t["rows"] for t in stats.values()),
                  "mb": input_bytes / 1e6},
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in metrics.items()},
        "detail": extra,
        "setup_parts": {"jvm_start_to_session_s": res["jvm_start_to_session_s"],
                        "warm_s": res["warm_s"], "warm_passes": WARM_PASSES},
        "attempted": attempted, "failed": failed, "failures": failures,
        "verdicts": verdict, "calls": res["calls"], "passes": res["passes"],
        "warm": res["warm"], "samples": res["samples"], "ledger": res["ledger"],
        "spans": spans,
    }
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f)
    signal.alarm(0)
    return record


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    try:
        rec = run_workload(a.workload, a.seed, a.seconds, a.trace)
    except (build.BuildError, BenchError, OverTime, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(1)
    for f in rec["failures"][:20]:
        print(f"FAILED {rec['workload']} {f['call']} pass {f['pass']}: {f['reason']}")
    host = rec["host"]
    print(f"host: loop {host['loop_before_s']:.3f} s before, {host['loop_after_s']:.3f} s "
          f"after, steal {host['steal_pct'] or 0:.2f}%")
    for m, v in rec["metrics"].items():
        print(f"{rec['workload']:8s} {m:32s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}))


if __name__ == "__main__":
    main()
