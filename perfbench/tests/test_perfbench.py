"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

Run from the root of a checkout. The smoke test at the end builds the
harness (`.bench_build/perfbench/classes`) and drives it at sf0.001.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest
from collections import Counter
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import build  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class ScheduleTest(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.schedule(w, 7), workloads.schedule(w, 7))

    def test_seed_changes_order_not_work(self):
        for w in workloads.WORKLOADS:
            (wa, a), (wb, b) = workloads.schedule(w, 1), workloads.schedule(w, 2)
            n = len(wa)
            self.assertEqual(wa, wb)
            self.assertNotEqual(a, b)
            for i in range(0, len(a), n):
                self.assertEqual(Counter(a[i:i + n]), Counter(b[i:i + n]))

    def test_every_pass_runs_every_op_once(self):
        for w in workloads.WORKLOADS:
            warmup, timed = workloads.schedule(w, 3)
            n = len(warmup)
            self.assertEqual(len(warmup), len(set(warmup)))
            self.assertEqual(len(timed), workloads.PASSES * n)
            for i in range(0, len(timed), n):
                self.assertEqual(sorted(timed[i:i + n]), sorted(warmup))

    def test_tpch_pass_is_the_golden_suite(self):
        warmup, _ = workloads.schedule("tpch_power", 3)
        self.assertEqual(sorted(warmup), sorted("Q:" + q for q in workloads.TPCH))


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates_like_numpy(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(stats.percentile(xs, 50), 5.5)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)
        self.assertEqual(stats.median([5, 1, 3]), 3)

    def test_percentile_of_nothing_fails(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(list(range(100)), 90), 10)
        self.assertTrue(stats.tail_ok(list(range(100)), 90))
        self.assertEqual(stats.beyond(list(range(91)), 90), 9)
        self.assertFalse(stats.tail_ok(list(range(91)), 90))
        self.assertFalse(stats.tail_ok([], 90))

    def test_union_and_self_time(self):
        self.assertEqual(stats.union_ms([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_ms([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]), 5)


def _run(ops, baseline=()):
    return {"t0": 0.0, "t1": 10_000.0, "rss_mb": 100.0,
            "setup": {"total_s": 9.0, "session_s": 5, "register_ms": 400},
            "warm_setup": {"total_s": 1.2, "session_s": 0.1, "register_ms": 1100},
            "baseline": list(baseline), "ops": ops}


def _op(i, start, build, optimize, physical, end, **kw):
    return dict({"op": f"0-{i}", "name": f"q{i}", "start": start,
                 "build": build, "optimize": optimize, "physical": physical, "end": end,
                 "rows": 1, "error": "", "codegen_ms": 0.0, "codegen_n": 0}, **kw)


class MetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        run = _run([_op(i, i * 1000, i * 1000 + 10, i * 1000 + 20, i * 1000 + 30,
                        i * 1000 + 500) for i in range(10)])
        m = metrics.end_to_end(run)
        self.assertEqual(set(m), set(metrics.END_TO_END))
        self.assertEqual(m["setup_s"], 9.0)  # the cold set-up, not the warm one
        self.assertAlmostEqual(m["latency_p50_s"], 0.5)
        self.assertAlmostEqual(m["throughput_qps"], 1.0)

    def test_self_times_account_for_the_op(self):
        op = _op(0, 0, 100, 120, 150, 1000, exchanges=2, kernels=1)
        spans = [
            {"kind": "job", "id": 1, "op": "0-0", "start": 50, "end": 90},
            {"kind": "job", "id": 2, "op": "0-0", "start": 200, "end": 900},
            {"kind": "stage", "id": 7, "parent": 2, "start": 210, "end": 890, "tasks": 1},
            {"kind": "task", "parent": 7, "start": 220, "end": 880, "ok": True,
             "cpu_ns": 2e8, "run_ms": 600, "gc_ms": 10, "sched_ms": 10, "sw": 5, "sr": 6,
             "spill": 0, "in_b": 1000, "in_r": 10, "out_b": 0, "out_r": 0},
        ]
        base = dict(op, op="b-0", end=800)
        m = metrics.per_layer(_run([op], [base]), spans, cores=4)
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertEqual(m["engine.session_s"], 5)
        self.assertEqual(m["engine.register_ms"], 400)
        self.assertEqual(m["engine.warm_setup_s"], 1.2)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.25)
        self.assertAlmostEqual(m["self.queries_ms"], 60)
        self.assertAlmostEqual(m["self.plans_ms"], 50)
        self.assertAlmostEqual(m["self.exec_driver_ms"], 150)
        self.assertAlmostEqual(m["self.exec_jobs_ms"], 740)
        self.assertAlmostEqual(m["trace.self_coverage"], 1.0)
        self.assertAlmostEqual(m["exec.queue_ms"], 50)
        self.assertEqual(m["exec.tasks"], 1)
        self.assertEqual(m["plans.exchanges"], 2)
        self.assertEqual(m["functions.kernel_ops"], 1)
        self.assertAlmostEqual(m["exec.core_util"], 0.05)


    def test_overhead_cancels_the_second_run_speed_up(self):
        # the second run of an op is 20% faster whichever is traced, and
        # two of the three ops run untraced first: no overhead is left
        ops = [_op(i, 0, 1, 2, 3, 800 if i % 2 == 0 else 1000) for i in range(3)]
        base = [dict(o, op=f"b-{i}", end=1000 if i % 2 == 0 else 800)
                for i, o in enumerate(ops)]
        m = metrics.per_layer(_run(ops, base), [], cores=4)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.0)


class ComparatorTest(unittest.TestCase):
    def setUp(self):
        self.rows = oracle._check_module(ROOT).table_rows

    def test_order_and_float_noise_do_not_matter(self):
        got = pa.table({"b": [2.0000001, 1.0], "a": [20, 10]})
        exp = pa.table({"a": [10, 20], "b": [1.0, 2.0]})
        self.assertIsNone(oracle.compare(got, exp, self.rows))

    def test_mismatches_are_named(self):
        exp = pa.table({"a": [1, 2]})
        self.assertIn("value", oracle.compare(pa.table({"a": [1, 3]}), exp, self.rows))
        self.assertIn("rowcount", oracle.compare(pa.table({"a": [1]}), exp, self.rows))
        self.assertIn("schema", oracle.compare(pa.table({"x": [1, 2]}), exp, self.rows))

    def test_types_must_agree(self):
        dec = pa.table({"a": pa.array([Decimal("0.10"), Decimal("2.50")], pa.decimal128(10, 2))})
        dbl = pa.table({"a": [0.1, 2.5]})
        self.assertIsNotNone(oracle.compare(dbl, dec, self.rows))
        self.assertIsNotNone(oracle.compare(pa.table({"a": [1, 2]}),
                                            pa.table({"a": ["1", "2"]}), self.rows))
        # a lossless difference in width still passes the normalized check
        narrow = pa.table({"a": pa.array([2, 1], pa.int32())})
        self.assertIsNone(oracle.compare(narrow, pa.table({"a": [1, 2]}), self.rows))


class FixtureDigestTest(unittest.TestCase):
    def test_digest_ignores_row_order_and_sees_values_and_types(self):
        tmp = Path(tempfile.mkdtemp(prefix="digest-"))
        try:
            def digest(table):
                pq.write_table(table, tmp / "t.parquet")
                return build.data_digest(tmp)["t"]
            base = digest(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}))
            self.assertEqual(base, digest(pa.table({"a": [3, 1, 2], "b": ["z", "x", "y"]})))
            self.assertNotEqual(base, digest(pa.table({"a": [1, 2, 4], "b": ["x", "y", "z"]})))
            self.assertNotEqual(base, digest(pa.table({"a": pa.array([1, 2, 3], pa.int32()),
                                                       "b": ["x", "y", "z"]})))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_pinned_digest_covers_every_table(self):
        pinned = json.loads(build.PINNED.read_text())
        self.assertEqual(pinned["sf"], build.SF)
        self.assertEqual(sorted(pinned["tables"]), sorted(oracle.TABLES))


class SmokeTest(unittest.TestCase):
    """The real harness at sf0.001: its stored results must match their
    oracles, and a wrong oracle must be caught. Builds the classes first."""

    QUERIES = ["tpch_q01", "tpch_q06", "e02_tumbling_hour"]

    def test_sf0001_results_match_oracles(self):
        build.ensure_classes(ROOT)
        bdir = build.build_dir(ROOT)
        tmp = Path(tempfile.mkdtemp(prefix="smoke-", dir=bdir))
        try:
            env = dict(os.environ, SPARK_GRAFT_CPUS="2",
                       SPARK_LOCAL_DIRS=str(tmp / "local"))
            data = tmp / "data"
            data.mkdir()
            with open(tmp / "gen.log", "w") as log:
                r = build.java(ROOT, ["gen", "0.001", str(data)], "1g", cwd=tmp,
                               env=env, timeout=300, log=log)
            self.assertEqual(r.returncode, 0, (tmp / "gen.log").read_text()[-2000:])
            plan = tmp / "plan.txt"
            plan.write_text("\n".join([
                f"data {data}", "seconds 1", "trace 0", "cpus 2", f"out {tmp}",
                f"warehouse {tmp / 'wh'}", f"checkpoints {tmp / 'ck'}",
                f"pass_len {len(self.QUERIES)}",
                "ops " + " ".join("Q:" + q for q in self.QUERIES)]) + "\n")
            with open(tmp / "run.log", "w") as log:
                r = build.java(ROOT, ["run", str(plan)], "1g", cwd=tmp, env=env,
                               timeout=300, log=log)
            self.assertEqual(r.returncode, 0, (tmp / "run.log").read_text()[-2000:])
            run = json.loads((tmp / "run.json").read_text())
            self.assertEqual([o["error"] for o in run["ops"]], [""] * len(self.QUERIES))
            con = oracle.connect(data, tmp / "duckdb_tmp")

            def cache_for(name, sql):
                return tmp / "oracle" / f"{abs(hash((name, sql)))}.parquet"

            sqls = build.oracle_sql(ROOT, self.QUERIES, env)
            got = oracle.check_results(ROOT, con, tmp / "results", sqls,
                                       self.QUERIES, cache_for)
            self.assertEqual(got, {q: None for q in self.QUERIES})
            wrong = dict(sqls, tpch_q06=sqls["tpch_q01"])
            bad = oracle.check_results(ROOT, con, tmp / "results", wrong,
                                       ["tpch_q06"], cache_for)
            self.assertIsNotNone(bad["tpch_q06"])
            con.close()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
