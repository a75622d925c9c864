"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import random
import statistics
import tempfile
import unittest

import gen
import stats
import trace


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        p = stats.percentile([40, 10, 30, 20], 0.5)
        self.assertEqual(p["value"], 25)
        self.assertEqual(p["n"], 4)
        self.assertEqual(p["beyond"], 2)
        self.assertAlmostEqual(stats.percentile([40, 10, 30, 20], 0.75)["value"], 32.5)
        self.assertEqual(stats.percentile([40, 10, 30, 20], 1.0)["value"], 40)
        self.assertEqual(stats.percentile([7], 0.5)["value"], 7)

    def test_matches_statistics_quantiles(self):
        rng = random.Random(3)
        for n in (2, 5, 36, 101):
            xs = [rng.random() for _ in range(n)]
            qs = statistics.quantiles(xs, n=4, method="inclusive")
            self.assertAlmostEqual(stats.percentile(xs, 0.5)["value"], qs[1])
            self.assertAlmostEqual(stats.percentile(xs, 0.75)["value"], qs[2])

    def test_ten_beyond_rule(self):
        # p75 of 40 samples lies between the 30th and 31st: ten above it
        self.assertTrue(stats.percentile(list(range(40)), 0.75)["ten_beyond"])
        self.assertEqual(stats.percentile(list(range(37)), 0.75)["beyond"], 9)
        self.assertFalse(stats.percentile(list(range(37)), 0.75)["ten_beyond"])
        # p90 needs 92 samples, the median 20
        self.assertTrue(stats.percentile(list(range(100)), 0.9)["ten_beyond"])
        self.assertFalse(stats.percentile(list(range(91)), 0.9)["ten_beyond"])
        self.assertTrue(stats.percentile(list(range(20)), 0.5)["ten_beyond"])
        self.assertFalse(stats.percentile(list(range(19)), 0.5)["ten_beyond"])

    def test_highest_valid(self):
        self.assertEqual(stats.highest_valid(list(range(100))), 0.9)
        self.assertEqual(stats.highest_valid(list(range(45))), 0.75)
        self.assertIsNone(stats.highest_valid(list(range(12))))

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)
        with self.assertRaises(ValueError):
            stats.percentile([1.0], 1.5)


class SelfTimeTest(unittest.TestCase):
    def test_deepest_layer_wins_and_sums_to_wall(self):
        t = trace.self_times(0, 100, [
            (0, 40, "construct"), (10, 30, "construct_jobs"),
            (40, 100, "call"), (45, 55, "plan"), (60, 95, "sched"),
            (65, 90, "exec")])
        self.assertEqual(t, {"construct": 20, "construct_jobs": 20,
                             "call": 15, "plan": 10, "sched": 10,
                             "exec": 25})
        self.assertEqual(sum(t.values()), 100)

    def test_overlapping_and_escaping_children(self):
        # two overlapping jobs count their union once; a child running
        # past the operation is clipped; gaps go to "other"
        t = trace.self_times(0, 50, [
            (5, 20, "sched"), (10, 30, "sched"), (40, 70, "call")])
        self.assertEqual(t, {"other": 15, "sched": 25, "call": 10})

    def test_op_layers_split_executor_and_codegen(self):
        op = {"start": 0.0, "end": 100.0, "counters": {"codegen_ms": 5.0}}
        children = [{"id": 1, "kind": "construct", "start": 0.0, "end": 20.0},
                    {"id": 2, "kind": "execute", "start": 20.0, "end": 100.0}]
        jobs = [{"parent": 1, "start": 5, "end": 15, "busy": [[6, 14]],
                 "metrics": {"run_ms": 8}},
                {"parent": 2, "start": 40, "end": 90, "busy": [[45, 85]],
                 "metrics": {"run_ms": 100, "sh_w_ms": 20, "fetch_wait_ms": 5}}]
        plans = [{"phase": "analysis", "start": 22, "end": 30}]
        layers, _ = trace.op_layers(op, children, jobs, plans)
        self.assertAlmostEqual(sum(layers.values()), 100.0)
        self.assertEqual(layers["construct"], 10)
        self.assertEqual(layers["construct_jobs"], 10)
        self.assertEqual(layers["plan"], 8)
        self.assertEqual(layers["codegen"], 5)
        self.assertAlmostEqual(layers["executor"], 30)
        self.assertAlmostEqual(layers["shuffle"], 10)
        # execute self (20-22, 30-40, 90-100 = 22 ms) less codegen, plus
        # job time with no task running (40-45, 85-90 = 10 ms)
        self.assertAlmostEqual(layers["scheduler"], 27)


class GeneratorTest(unittest.TestCase):
    ROWS = {"events": 2000, "documents": 300, "customer": 100, "nation": 25}

    def gen(self, seed):
        d = tempfile.mkdtemp()
        return gen.generate(d, seed, self.ROWS), d

    def test_same_seed_same_tables(self):
        a, _ = self.gen(11)
        b, _ = self.gen(11)
        self.assertEqual(a["tables"], b["tables"])

    def test_other_seed_other_rows_same_shape(self):
        import pyarrow.parquet as pq
        a, da = self.gen(11)
        b, db = self.gen(12)
        for name, n in self.ROWS.items():
            ta, tb = a["tables"][name], b["tables"][name]
            self.assertNotEqual(ta["hash"], tb["hash"], name)
            self.assertEqual(ta["rows"], n)
            self.assertEqual(tb["rows"], n)
            sa = pq.read_schema(os.path.join(da, f"{name}.parquet"))
            sb = pq.read_schema(os.path.join(db, f"{name}.parquet"))
            self.assertTrue(sa.equals(sb), name)

    def test_events_schema_matches_graft_tables(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        _, d = self.gen(3)
        s = pq.read_schema(os.path.join(d, "events.parquet"))
        self.assertEqual(s.field("ts").type, pa.timestamp("us"))
        self.assertEqual([f.name for f in s],
                         ["event_id", "ts", "user_id", "event_type", "value", "props"])


if __name__ == "__main__":
    unittest.main()
