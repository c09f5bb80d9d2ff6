"""Tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'   # from the repository root

The generator test compiles the benchmark on first use.
"""
import json
import os
import subprocess
import unittest

import build
import metrics
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TailRule(unittest.TestCase):
    def test_no_tail_below_eleven_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_ten_samples_beyond_the_percentile(self):
        for n, q in ((11, 9), (20, 50), (40, 75), (100, 90), (1000, 99)):
            xs = [float(i) for i in range(n)]
            value, pct, count = metrics.tail(xs)
            self.assertEqual((pct, count), (q, n))
            self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 6
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class Throughput(unittest.TestCase):
    def test_sum_ratio_is_total_work_over_total_time(self):
        # 10 rows in 1 s and 20 rows in 3 s: 30 rows in 4 s, not the
        # mean of 10/s and 6.67/s
        self.assertEqual(metrics.sum_ratio([10, 20], [1.0, 3.0]), 7.5)

    def test_no_time_no_rate(self):
        self.assertIsNone(metrics.sum_ratio([], []))


class Report(unittest.TestCase):
    def op(self, i, kind, rows, t0, t1, ok=True):
        return {"id": i, "kind": kind, "rows": rows, "t0": t0, "t1": t1, "ok": ok,
                "wrong": False, "error": "", "layer": {}}

    def test_report_is_e2e_plus_the_rest(self):
        run = {"setup": {"session_s": 1.0, "prepare_s": 2.0, "warmup_s": 3.0},
               "ops": [self.op(0, "upsert", 100, 0, 2), self.op(1, "lookup", 1, 2, 2.5),
                       self.op(2, "scan", 50, 3, 4), self.op(3, "fk_id_write", 10, 4, 5, ok=False)],
               "checks": [{"name": "c", "ok": True, "detail": ""}],
               "samples": {"space_amp": [1.5]}}
        rep = metrics.report(run)
        for name, (value, unit) in metrics.e2e(run).items():
            self.assertEqual(rep[name][:2], (value, unit), name)
        self.assertEqual(rep["setup_s"][0], 6.0)
        self.assertEqual(rep["point_read_p50_s"][0], 0.5)   # a lookup is a point read
        self.assertEqual(metrics.counts(run), (5, 1, 0))
        self.assertEqual(rep["failed_ratio"][0], 0.2)


class Names(unittest.TestCase):
    def test_pattern(self):
        for ok in ("setup_s", "exec.write_stage_tasks.brin", "load_rows_per_s.plain", "a-b"):
            self.assertTrue(metrics.valid_name(ok), ok)
        for bad in ("", ".x", "a b", "a/b", "x" * 65, "p50%"):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_benchmark_json_lists_what_the_runs_report(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(e2e, {k: u for k, (u, _) in metrics.E2E.items()})
        self.assertEqual(layers, {k: v[0] for k, v in metrics.PER_LAYER.items()})
        for name in list(e2e) + list(layers) + [w["name"] for w in spec["workloads"]]:
            self.assertTrue(metrics.valid_name(name), name)
        self.assertTrue(set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS))


class SelfTime(unittest.TestCase):
    def span(self, i, start, end, parent):
        return {"id": i, "name": "s%d" % i, "start": start, "end": end, "parent": parent, "op": 0}

    def test_children_are_subtracted_once(self):
        spans = [self.span(0, 0, 10, -1), self.span(1, 1, 4, 0), self.span(2, 3, 6, 0),
                 self.span(3, 2, 3, 1)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 5)   # children cover [1, 6]
        self.assertAlmostEqual(st[1], 3 - 1)
        self.assertAlmostEqual(st[2], 3)
        self.assertAlmostEqual(st[3], 1)

    def test_children_outside_the_parent_are_clipped(self):
        self.assertAlmostEqual(metrics.covered([(-5, 2), (8, 20)], 0, 10), 4)


class Generator(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = build.build(ROOT)[0]

    def digest(self, workload, seed):
        out = subprocess.run(
            ["java", "-cp", self.classes + os.pathsep + build.classpath(ROOT), "graftbench.Main",
             "--workload", workload, "--seed", str(seed), "--digest"],
            check=True, capture_output=True, text=True).stdout.split()
        return out[-1]

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in run.WORKLOADS:
            a, b, c = self.digest(w, 1), self.digest(w, 1), self.digest(w, 2)
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)
            self.assertRegex(a, "^[0-9a-f]{64}$")


if __name__ == "__main__":
    unittest.main()
