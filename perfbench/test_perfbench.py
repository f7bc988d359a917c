#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py            # all, smoke runs included
    python3 perfbench/test_perfbench.py -k Unit    # the fast ones only

The smoke tests build the benchmark if needed and run each workload once
on sf0.001 tables, query_mix once traced (the plan of a lazy op must reach
the listener), then once more with a deliberately wrong expectation, which
must be reported as a failed op.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class UnitPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(100)), 90), 89)
        self.assertIsNone(stats.percentile(list(range(19)), 50))
        self.assertEqual(stats.percentile(list(range(20)), 50), 9)
        self.assertIsNone(stats.percentile([], 50))

    def test_order_does_not_matter(self):
        xs = [float(i % 37) for i in range(200)]
        self.assertEqual(stats.percentile(xs, 90), stats.percentile(sorted(xs), 90))


class UnitSpans(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_s([(1, 3), (2, 5), (8, 12)]), 8)
        self.assertEqual(stats.union_s([(1, 3), (2, 5), (8, 12)], 0, 10), 6)
        self.assertEqual(stats.union_s([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(-5, 20)]), 0)

    def test_jobs_hang_under_the_call_that_ran_them(self):
        record = {
            "spans": [
                {"id": "op-0", "parent": "", "name": "q", "start_ms": 0.0, "end_ms": 10.0},
                {"id": "op-0/q/construct", "parent": "op-0", "name": "registry.construct",
                 "start_ms": 0.0, "end_ms": 2.0},
                {"id": "op-0/q/consume", "parent": "op-0", "name": "registry.consume",
                 "start_ms": 2.0, "end_ms": 9.0}],
            "jobs": [{"id": 7, "group": "op-0", "start_ms": 3, "end_ms": 8,
                      "module": "bench.consume"}]}
        tree = {s["id"]: s for s in stats.span_tree(record)}
        self.assertEqual(tree["job-7"]["parent"], "op-0/q/consume")
        self.assertEqual(tree["op-0/q/consume"]["self_ms"], 2.0)
        self.assertEqual(tree["op-0"]["self_ms"], 1.0)


class UnitGenerator(unittest.TestCase):
    def test_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(f"{d}/a", 0.001, 7)
            gen.write_tables(f"{d}/b", 0.001, 7)
            gen.write_tables(f"{d}/c", 0.001, 8)
            for t in gen.TABLES:
                a = pq.read_table(f"{d}/a/{t}.parquet")
                self.assertTrue(a.equals(pq.read_table(f"{d}/b/{t}.parquet")), t)
            self.assertFalse(pq.read_table(f"{d}/a/events.parquet").equals(
                pq.read_table(f"{d}/c/events.parquet")))

    def test_ratings_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            counts = gen.write_ratings_csv(f"{d}/a", 3)
            self.assertEqual(counts, gen.write_ratings_csv(f"{d}/b", 3))
            gen.write_ratings_csv(f"{d}/c", 4)
            text = [open(f"{d}/{x}").read() for x in "abc"]
            self.assertEqual(text[0], text[1])
            self.assertNotEqual(text[0], text[2])

    def test_validation_users_and_products_are_trained(self):
        with tempfile.TemporaryDirectory() as d:
            n_train, n_valid = gen.write_ratings_csv(f"{d}/r", 5)
            rows = [l.split(",") for l in open(f"{d}/r").read().split()]
            train = [r for r in rows if r[0] == "I"]
            valid = [r for r in rows if r[0] == "V"]
            self.assertEqual((len(train), len(valid)), (n_train, n_valid))
            self.assertTrue({r[1] for r in valid} <= {r[1] for r in train})
            self.assertTrue({r[2] for r in valid} <= {r[2] for r in train})
            self.assertTrue(all(1.0 <= float(r[3]) <= 5.0 for r in rows))

    def test_plan_shifts_each_pass_by_seed(self):
        ops = [f"q{i}" for i in range(30)]
        a, b, c = run.plan(ops, 1, 3), run.plan(ops, 1, 3), run.plan(ops, 2, 3)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        for p in a + c:
            k = ops.index(p[0])
            self.assertEqual(p, ops[k:] + ops[:k])


def run_bench(*args):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                         capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(out.stderr[-3000:])
    return json.loads(out.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def smoke(self, workload, *extra, trace=0):
        return run_bench("--workload", workload, "--seed", "1", "--seconds", "1",
                         "--trace", str(trace), "--smoke", *extra)

    def test_each_workload_once(self):
        for w in ("collab_refit", "query_mix", "batch_curation"):
            with self.subTest(workload=w):
                r = self.smoke(w)
                self.assertTrue(r["correct"], r)
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 1)

    def test_traced_run_sees_the_plan_of_a_lazy_op(self):
        # q_sort_limit's registry call builds its plan without running it;
        # the plan runs when the result is consumed, and its planning time
        # must reach the QueryExecutionListener there
        r = self.smoke("query_mix", trace=1)
        self.assertTrue(r["correct"], r)
        self.assertGreater(r["metrics"]["spark.plan_s"]["value"], 0)
        with open(os.path.join(HERE, ".runs", "records",
                               "query_mix-seed1-trace1-smoke.json")) as f:
            record = json.load(f)
        op = next(o for o in record["ops"] if o["traced"] and o["name"] == "q_sort_limit")
        planned = [q for q in record["qes"]
                   if op["start_ms"] <= q["start_ms"] <= op["end_ms"]]
        self.assertGreater(sum(q["plan_ms"] for q in planned), 0)

    def test_wrong_expectation_counts_as_failure(self):
        r = self.smoke("query_mix", "--wrong-expectation")
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 1)


if __name__ == "__main__":
    unittest.main()
