"""End-to-end and per-layer metrics from what one harness run recorded.

`run` is the harness's run.json; `spans` the traced run's listener spans
(jobs, stages, tasks, streaming batches). All times are epoch ms.
"""
import math
from collections import defaultdict

from stats import median, percentile, self_time, union_ms

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_qps": "ops/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {  # name -> unit; medians per op unless the name says total
    "engine.session_s": "s",
    "engine.register_ms": "ms",
    "engine.warm_setup_s": "s",
    "queries.build_ms": "ms",
    "plans.optimize_ms": "ms",
    "plans.physical_ms": "ms",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "plans.bloom_filters": "count",
    "plans.decimal_fastpath": "count",
    "plans.cached_scans": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "rows",
    "sources.files_read": "count",
    "exec.wall_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.sched_delay_ms": "ms",
    "exec.queue_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.codegen_compile_ms": "ms",
    "exec.codegen_compiles": "count",
    "functions.kernel_ops": "count",
    "functions.kernel_cpu_s": "s",
    "streaming.batches": "count",
    "streaming.rows_in": "rows",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_bytes": "bytes",
    "streaming.rows_per_s": "rows/s",
    "self.queries_ms": "ms",
    "self.operators_ms": "ms",
    "self.plans_ms": "ms",
    "self.streaming_ms": "ms",
    "self.exec_driver_ms": "ms",
    "self.exec_jobs_ms": "ms",
    "trace.self_coverage": "ratio",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
}


def module_of(query):
    """The engine module that defines a query (where its build call runs)."""
    if query.startswith("st"):
        return "streaming"
    if query[0] in "dnte" and query[1].isdigit():
        return "operators"
    return "queries"


def latencies(run):
    return [(o["end"] - o["start"]) / 1e3 for o in run["ops"] if not o["error"]]


def end_to_end(run):
    lat = latencies(run)
    wall_s = (run["t1"] - run["t0"]) / 1e3
    return {
        "setup_s": run["setup"]["total_s"],
        "latency_p50_s": percentile(lat, 50),
        "latency_p90_s": percentile(lat, 90),
        "throughput_qps": len(lat) / wall_s,
        "peak_rss_mb": run["rss_mb"],
    }


def _med(xs):
    return median(xs) if xs else 0.0


def _lat(o):
    return o["end"] - o["start"]


def per_layer(run, spans, cores):
    """Every PER_LAYER metric; 0 where a workload never reaches the layer."""
    ops = [o for o in run["ops"] if not o["error"]]
    by_id = {o["op"]: o for o in ops}
    jobs = [s for s in spans if s["kind"] == "job"]
    stages = {s["id"]: s for s in spans if s["kind"] == "stage"}
    tasks = [s for s in spans if s["kind"] == "task"]
    batches = [s for s in spans if s["kind"] == "batch"]

    def owner(t):
        """The op running at time t (the workloads have one client)."""
        for o in ops:
            if o["start"] <= t <= o["end"]:
                return o["op"]
        return None

    # jobs carry the op's job group; streaming jobs carry the stream's own
    # group, so those fall back to the op whose window holds the job start
    job_op = {j["id"]: j["op"] if j["op"] in by_id else owner(j["start"])
              for j in jobs}
    op_jobs, op_tasks, op_batches = defaultdict(list), defaultdict(list), defaultdict(list)
    for j in jobs:
        if job_op[j["id"]]:
            op_jobs[job_op[j["id"]]].append(j)
    for t in tasks:
        st = stages.get(t["parent"])
        op = job_op.get(st["parent"]) if st else None
        if op:
            op_tasks[op].append(t)
    for b in batches:
        op = owner(b["start"])
        if op:
            op_batches[op].append(b)

    m = {k: 0.0 for k in PER_LAYER}
    m["engine.session_s"] = run["setup"]["session_s"]
    m["engine.register_ms"] = run["setup"]["register_ms"]
    m["engine.warm_setup_s"] = run["warm_setup"]["total_s"]

    m["queries.build_ms"] = _med([o["build"] - o["start"] for o in ops])
    m["plans.optimize_ms"] = _med([o["optimize"] - o["build"] for o in ops])
    m["plans.physical_ms"] = _med([o["physical"] - o["optimize"] for o in ops])
    m["exec.wall_ms"] = _med([o["end"] - o["physical"] for o in ops])
    m["exec.codegen_compile_ms"] = _med([o["codegen_ms"] for o in ops])
    m["exec.codegen_compiles"] = _med([o["codegen_n"] for o in ops])

    # plan shapes: totals over the distinct queries (first execution of each)
    first = {}
    for o in ops:
        first.setdefault(o["name"], o)
    for k in ["exchanges", "broadcasts", "bloom_filters", "decimal_fastpath",
              "cached_scans"]:
        m["plans." + k] = float(sum(o.get(k, 0) for o in first.values()))
    m["sources.files_read"] = _med([o.get("files_read", 0) for o in ops])

    def tsum(op, key):
        return sum(t.get(key, 0) for t in op_tasks[op])

    m["sources.scan_bytes"] = _med([tsum(o["op"], "in_b") for o in ops])
    m["sources.scan_rows"] = _med([tsum(o["op"], "in_r") for o in ops])
    m["exec.jobs"] = _med([len(op_jobs[o["op"]]) for o in ops])
    m["exec.stages"] = _med([len({t["parent"] for t in op_tasks[o["op"]]}) for o in ops])
    m["exec.tasks"] = _med([len(op_tasks[o["op"]]) for o in ops])
    m["exec.cpu_s"] = _med([tsum(o["op"], "cpu_ns") / 1e9 for o in ops])
    m["exec.run_s"] = _med([tsum(o["op"], "run_ms") / 1e3 for o in ops])
    m["exec.gc_s"] = _med([tsum(o["op"], "gc_ms") / 1e3 for o in ops])
    m["exec.core_util"] = _med([tsum(o["op"], "cpu_ns") / 1e6 / ((o["end"] - o["start"]) * cores)
                                for o in ops])
    m["exec.sched_delay_ms"] = _med([tsum(o["op"], "sched_ms") / len(op_tasks[o["op"]])
                                     for o in ops if op_tasks[o["op"]]])

    def queue_ms(o):
        """Execute call to the first job it starts; None when it starts none."""
        starts = [j["start"] for j in op_jobs[o["op"]] if j["start"] >= o["physical"]]
        return min(starts) - o["physical"] if starts else None

    m["exec.queue_ms"] = _med([q for q in map(queue_ms, ops) if q is not None])
    m["exec.shuffle_write_bytes"] = _med([tsum(o["op"], "sw") for o in ops])
    m["exec.shuffle_read_bytes"] = _med([tsum(o["op"], "sr") for o in ops])
    m["exec.spill_bytes"] = _med([tsum(o["op"], "spill") for o in ops])

    kernel_names = {o["name"] for o in first.values() if o.get("kernels", 0) > 0}
    m["functions.kernel_ops"] = float(len(kernel_names))
    m["functions.kernel_cpu_s"] = _med([tsum(o["op"], "cpu_ns") / 1e9
                                        for o in ops if o["name"] in kernel_names])

    drains = [o for o in ops if op_batches[o["op"]]]
    for k in ["rows_in", "add_batch_ms", "planning_ms", "wal_commit_ms", "state_commit_ms"]:
        m["streaming." + k] = _med([sum(b[k] for b in op_batches[o["op"]]) for o in drains])
    for k in ["state_rows", "state_bytes"]:
        m["streaming." + k] = _med([max(b[k] for b in op_batches[o["op"]]) for o in drains])
    m["streaming.batches"] = _med([len(op_batches[o["op"]]) for o in drains])
    drain_ms = sum(o["end"] - o["start"] for o in drains)
    if drain_ms:
        m["streaming.rows_per_s"] = (
            sum(b["rows_in"] for o in drains for b in op_batches[o["op"]]) / (drain_ms / 1e3))

    # self time per layer along each op's path: op -> phases -> streaming
    # batches -> jobs. The build call belongs to the module that defines the
    # query; a phase's self time excludes the batches and jobs inside it, a
    # batch's excludes its jobs. Medians run over the ops that reach a layer.
    selfs = defaultdict(list)
    covered = wall = 0.0
    for o in ops:
        js = [(j["start"], j["end"]) for j in op_jobs[o["op"]]]
        bs = [(b["start"], b["end"]) for b in op_batches[o["op"]]]
        row = defaultdict(float)
        for layer, s, e in [(module_of(o["name"]), o["start"], o["build"]),
                            ("plans", o["build"], o["optimize"]),
                            ("plans", o["optimize"], o["physical"]),
                            ("exec_driver", o["physical"], o["end"])]:
            row[layer] += self_time((s, e), js + bs)
        if bs:
            row["streaming"] += sum(self_time(b, js) for b in bs)
        row["exec_jobs"] = union_ms(js, o["start"], o["end"])
        for layer, v in row.items():
            selfs[layer].append(v)
        covered += sum(row.values())
        wall += o["end"] - o["start"]
    for layer, xs in selfs.items():
        m[f"self.{layer}_ms"] = _med(xs)
    m["trace.self_coverage"] = covered / wall if wall else 0.0
    # the same op traced over untraced, for each op of the first timed pass.
    # Whichever of the two runs second is faster, and the harness runs the
    # untraced one first for even ops and second for odd ones: averaging the
    # log ratios of each order apart, then the two, cancels that factor
    logs = defaultdict(list)
    for b, t in zip(run["baseline"], run["ops"]):
        if not b["error"] and not t["error"] and _lat(b) > 0 and _lat(t) > 0:
            logs[int(t["op"].split("-")[1]) % 2].append(math.log(_lat(t) / _lat(b)))
    means = [sum(xs) / len(xs) for xs in logs.values()]
    m["trace.overhead_frac"] = math.exp(sum(means) / len(means)) - 1 if means else 0.0
    m["trace.spans"] = float(len(spans))
    return m
