"""Workloads and their seeded op schedules.

Every workload is a closed loop of one client: it sends its next op when the
previous one returns. A run first executes every op of the workload once,
untimed and in a fixed order (JIT, codegen and plan caches warm up the same
way for every seed), then times whole passes. A pass runs each of the
workload's ops once; the seed only orders the ops inside each pass, so runs
with different seeds measure the same work. The engine sees only the
resulting op sequence: tokens `Q:<query>`, each one build, plan and collect
of `SparkEntry.queries(<query>)`.
"""
import random

TPCH = [f"tpch_q{i:02d}" for i in range(1, 23)]

LLM = ["d01_dedup_exact", "d04_simhash_pairs", "n01_knn_cosine",
       "t04_fingerprint", "e01_sessionize", "e02_tumbling_hour",
       "st01_stream_hourly"]

WORKLOADS = {"tpch_power": TPCH, "llm_pipeline": LLM}

# timed passes scheduled per run; the harness cycles them if a run outlasts them
PASSES = 4


def schedule(workload, seed):
    """(untimed warm-up ops, timed ops); a timed pass is len(warm-up) ops."""
    ops = WORKLOADS[workload]
    rng = random.Random(f"{workload}/{seed}")
    timed = ["Q:" + q for _ in range(PASSES) for q in rng.sample(ops, len(ops))]
    return ["Q:" + q for q in ops], timed


def queries(workload):
    """Every query a workload runs (the set its results are checked on)."""
    return sorted(WORKLOADS[workload])
