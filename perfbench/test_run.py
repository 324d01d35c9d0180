"""Self-tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The digest test runs the JVM side's self-test and needs a built benchmark
(any earlier `perfbench/run.py` run in this checkout); without one it is
skipped.
"""
import os
import shutil
import subprocess
import unittest

import run


class TailRule(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(run.tail_percentile(list(range(10))))

    def test_at_least_ten_samples_beyond_and_highest_such_percentile(self):
        for n in range(11, 400):
            xs = list(range(n))
            p, v = run.tail_percentile(xs)
            beyond = sum(1 for x in xs if x > v)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 99:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_known_points(self):
        self.assertEqual(run.tail_percentile(list(range(1, 21))), (50, 10))
        self.assertEqual(run.tail_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(run.tail_percentile([5.0] * 11), (9, 5.0))


class IntervalUnion(unittest.TestCase):
    def test_union_merges_overlapping_nested_and_touching(self):
        self.assertEqual(run.union([(5, 7), (0, 2), (1, 3), (3, 4), (5, 6)]), [[0, 4], [5, 7]])
        self.assertEqual(run.union_length([(0, 10), (2, 3), (9, 12), (20, 21)]), 13)
        self.assertEqual(run.union_length([]), 0)
        self.assertEqual(run.union_length([(4, 4)]), 0)

    def test_busy_plus_uncovered_is_the_span_for_jobs_inside_it(self):
        span = (100, 200)
        jobs = [(110, 130), (120, 150), (170, 180)]
        self.assertEqual(run.union_length(jobs), 50)
        self.assertEqual(run.uncovered(span, jobs), 50)

    def test_job_outliving_its_span_breaks_the_accounting(self):
        span, jobs = (0, 100), [(50, 150)]
        self.assertEqual(run.union_length(jobs) + run.uncovered(span, jobs), 150)


class Attribution(unittest.TestCase):
    def test_shared_stage_goes_to_the_job_running_at_submission(self):
        jobs = [{"id": 1, "start": 0, "end": 10, "stages": [1, 2]},
                {"id": 2, "start": 20, "end": 30, "stages": [2, 3]}]
        stages = [{"id": 1, "attempt": 0, "submitted": 1},
                  {"id": 2, "attempt": 0, "submitted": 5},
                  {"id": 3, "attempt": 0, "submitted": 21},
                  {"id": 9, "attempt": 0, "submitted": 22}]
        self.assertEqual(run.attribute_stages(jobs, stages),
                         {(1, 0): 1, (2, 0): 1, (3, 0): 2})

    def test_jobs_go_to_the_span_covering_their_start(self):
        spans = [{"start": 0, "end": 10}, {"start": 11, "end": 20}]
        jobs = [{"id": 1, "start": 3}, {"id": 2, "start": 11}, {"id": 3, "start": 25}]
        self.assertEqual(run.attribute_jobs(spans, jobs), {1: 0, 2: 1})

    def test_self_time_subtracts_the_children(self):
        spans = [{"id": 0, "parent": None, "start": 0, "end": 100},
                 {"id": 1, "parent": 0, "start": 10, "end": 40},
                 {"id": 2, "parent": 0, "start": 30, "end": 50},
                 {"id": 3, "parent": 1, "start": 20, "end": 25}]
        got = {s["id"]: s["self_ms"] for s in run.self_times(spans)}
        self.assertEqual(got, {0: 60, 1: 25, 2: 20, 3: 5})


class SeedDeterminism(unittest.TestCase):
    POOL = {f"q{i:02d}": 0.3 + (i * 7 % 11) / 4 for i in range(40)}

    def test_same_seed_same_sample_and_order(self):
        a = run.draw(self.POOL, 7, 12.0)
        self.assertEqual(a, run.draw(dict(reversed(list(self.POOL.items()))), 7, 12.0))
        b = run.draw(self.POOL, 8, 12.0)
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a), sorted(b))

    def test_same_seed_same_sample_in_another_process(self):
        code = ("import run; pool = {f'q{i:02d}': 0.3 + (i * 7 % 11) / 4 for i in range(40)}; "
                "print(run.draw(pool, 7, 12.0))")
        out = subprocess.run(["python3", "-c", code], cwd=os.path.dirname(__file__),
                             capture_output=True, text=True, check=True, env=dict(
                                 os.environ, PYTHONHASHSEED="123")).stdout.strip()
        self.assertEqual(out, str(run.draw(self.POOL, 7, 12.0)))

    def test_panel_spans_the_cost_range_within_the_budget(self):
        costs = {f"q{i}": float(i) for i in range(1, 11)}
        self.assertEqual(run.panel(costs, 10.0), ["q6"])
        self.assertEqual(run.panel(costs, 12.0), ["q3", "q8"])
        self.assertEqual(run.panel(costs, 55.0), sorted(costs, key=costs.get))
        self.assertEqual(run.panel(costs, 5.0), [])
        for budget in (3.0, 12.0, 30.0):
            self.assertLessEqual(sum(costs[q] for q in run.panel(costs, budget)), budget)


class DigestOrderIndependence(unittest.TestCase):
    def test_jvm_digest_self_test(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        launch = os.path.join(root, ".bench_build", "launch.txt")
        if not os.path.exists(launch):
            self.skipTest("no benchmark build in this checkout")
        lines = open(launch).read().splitlines()
        run_root = os.path.join(root, ".bench_build", "runs", f"selftest-{os.getpid()}")
        try:
            run.jvm(lines[0], lines[1:], run_root, ["selftest"], 170,
                    os.path.join(root, ".bench_build", "selftest.log"))
        finally:
            shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
