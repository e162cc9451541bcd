#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness, generates the fixtures and caches the oracle outputs (all under
`.bench_build/perfbench/`). Each run then starts one JVM that sets up the
engine, runs the workload's closed loop for at least `--seconds` seconds
(whole passes), and stores each distinct query's first result; this script
checks those results against their DuckDB oracles and prints the metrics.
The last stdout line is the result JSON; the full record of the run goes to
`.bench_build/perfbench/artifacts/`. Exit code 1 on an incorrect result or
a failed run, 2 when nothing can be built.
"""
import argparse
import gzip
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import build
import metrics
import oracle
import stats
import workloads

HEAP = "2g"
JVM_TIMEOUT_S = 150


def calibrate(steps=300_000):
    """Fixed-work single-thread CPU probe (seconds); run before and after,
    so a change in the box's speed under a run shows in its record."""
    x, mask = 0x9E3779B97F4A7C15, (1 << 64) - 1
    t0 = time.perf_counter()
    for _ in range(steps):
        x ^= (x << 13) & mask
        x ^= x >> 7
        x ^= (x << 17) & mask
    return time.perf_counter() - t0


def host_snapshot():
    def read(path):
        try:
            return Path(path).read_text()
        except OSError:
            return ""
    cpu = read("/proc/stat").split("\n", 1)[0].split()[1:]
    jiffies = [int(v) for v in cpu]
    return {"loadavg": read("/proc/loadavg").split()[:3],
            "steal": jiffies[7] if len(jiffies) > 7 else 0,
            "jiffies": sum(jiffies), "calibration_s": calibrate()}


def host_record(pre, post, cpus):
    dj = post["jiffies"] - pre["jiffies"]
    return {"nproc": os.cpu_count(), "cpus": cpus,
            "SPARK_GRAFT_CPUS": str(cpus),
            "loadavg_pre": pre["loadavg"], "loadavg_post": post["loadavg"],
            "steal_pct": 100.0 * (post["steal"] - pre["steal"]) / dj if dj > 0 else 0.0,
            "calibration_s": [pre["calibration_s"], post["calibration_s"]]}


def jvm_env(cpus, rundir=None):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    if rundir is not None:
        env["SPARK_LOCAL_DIRS"] = str(rundir / "local")
    return env


def prepare(root, cpus):
    """Classes, fixtures and every workload's oracle SQL and outputs, built once."""
    bdir = build.build_dir(root)
    bdir.mkdir(parents=True, exist_ok=True)
    env = jvm_env(cpus)
    classes = build.ensure_classes(root)
    data, data_stamp = build.ensure_data(root, env)
    con = oracle.connect(data, bdir / "duckdb_tmp")

    def cache_for(name, sql):
        return build.oracle_cache(root, data_stamp, name, sql)

    done = bdir / "oracle" / f"{classes}-{data_stamp}.json"
    if done.is_file():
        sqls = json.loads(done.read_text())
    else:
        names = {q for w in workloads.WORKLOADS for q in workloads.queries(w)}
        sqls = build.oracle_sql(root, names, env)
        for name, sql in sqls.items():
            oracle.expected(con, sql, cache_for(name, sql))
        done.write_text(json.dumps(sqls))
    return data, con, sqls, cache_for


def write_plan(path, kv):
    path.write_text("".join(f"{k} {v}\n" for k, v in kv.items()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = Path.cwd()
    cpus = len(os.sched_getaffinity(0))
    clock = {"start": time.time()}
    try:
        data, con, sqls, cache_for = prepare(root, cpus)
    except (build.BuildError, OSError) as e:
        print(f"perfbench: cannot build: {e}", file=sys.stderr)
        return 2

    clock["prepared"] = time.time()
    bdir = build.build_dir(root)
    rundir = bdir / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    for d in ["out", "warehouse", "checkpoints", "local", "tmp"]:
        (rundir / d).mkdir(parents=True)
    try:
        warmup, ops = workloads.schedule(args.workload, args.seed)
        plan, out = rundir / "plan.txt", rundir / "out"
        write_plan(plan, {
            "data": data, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "out": out,
            "warehouse": rundir / "warehouse", "checkpoints": rundir / "checkpoints",
            "pass_len": len(warmup), "warmup": " ".join(warmup), "ops": " ".join(ops)})
        pre = host_snapshot()
        with open(rundir / "jvm.log", "w") as log:
            try:
                r = build.java(root, ["run", str(plan)], HEAP, cwd=rundir,
                               env=jvm_env(cpus, rundir), timeout=JVM_TIMEOUT_S, log=log,
                               opts=[f"-Djava.io.tmpdir={rundir / 'tmp'}"])
            except subprocess.TimeoutExpired:
                print(f"perfbench: harness killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
                return 1
        clock["jvm_done"] = time.time()
        post = host_snapshot()
        if r.returncode != 0 or not (out / "run.json").is_file():
            tail = (rundir / "jvm.log").read_text()[-3000:]
            print(f"perfbench: harness failed (exit {r.returncode}):\n{tail}", file=sys.stderr)
            return 1
        run = json.loads((out / "run.json").read_text())
        spans = []
        if args.trace:
            with open(out / "spans.jsonl") as f:
                spans = [json.loads(line) for line in f if line.strip()]

        # correctness: every distinct query against its oracle, every op's errors
        names = {o["name"] for o in run["ops"]}
        checks = oracle.check_results(root, con, out / "results",
                                      sqls, names, cache_for)
        bad = {n for n, why in checks.items() if why}
        failed = [o for o in run["ops"] if o["error"] or o["name"] in bad]
        attempted = len(run["ops"])
        lat = metrics.latencies(run)
        clock["checked"] = time.time()
        if not lat:
            print("perfbench: no op succeeded", file=sys.stderr)
            return 1

        if args.trace:
            values, units = metrics.per_layer(run, spans, cpus), metrics.PER_LAYER
        else:
            values, units = metrics.end_to_end(run), metrics.END_TO_END

        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host_record(pre, post, cpus),
            "ops": len(lat), "attempted": attempted, "failed": len(failed),
            "failed_frac": len(failed) / attempted,
            "failures": {o["op"]: o["error"] or checks[o["name"]] for o in failed},
            "checks": checks,
            "p90_beyond": stats.beyond(lat, 90),
            "p90_tail_ok": stats.tail_ok(lat, 90),
            "measured_s": (run["t1"] - run["t0"]) / 1e3,
            "wall_s": {k: v - clock["start"] for k, v in clock.items()},
            "metrics": values, "run": run}
        adir = bdir / "artifacts"
        adir.mkdir(parents=True, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
        (adir / f"{stem}.json").write_text(json.dumps(record, indent=1))
        if args.trace:
            with gzip.open(adir / f"{stem}.spans.jsonl.gz", "wt") as f:
                f.writelines(json.dumps(s) + "\n" for s in spans)

        for name, why in sorted(checks.items()):
            if why:
                print(f"perfbench: FAIL {name}: {why}")
        print(f"perfbench: {args.workload} seed={args.seed} ops={len(lat)} "
              f"attempted={attempted} failed_frac={record['failed_frac']:.4f} "
              f"measured={record['measured_s']:.1f}s "
              f"p90 samples beyond={record['p90_beyond']}"
              f"{'' if record['p90_tail_ok'] else ' (fewer than 10)'}")
        for k, v in values.items():
            print(f"perfbench:   {k} = {v:.6g} {units[k]}")
        correct = not failed
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
        con.close()


if __name__ == "__main__":
    sys.exit(main())
