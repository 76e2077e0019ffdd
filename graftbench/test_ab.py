"""Tests for ab.py's verdicts: python3 -m unittest graftbench/test_ab.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab  # noqa: E402


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_clear_gain(self):
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(ab.verdict(self.parent, change, "lower", 0.1)["verdict"], "gain")

    def test_regression_beyond_bound(self):
        change = [x * 1.3 for x in self.parent]
        self.assertEqual(ab.verdict(self.parent, change, "lower", 0.1)["verdict"], "regression")

    def test_noise_is_same(self):
        change = list(reversed(self.parent))
        r = ab.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(r["verdict"], "same")
        self.assertEqual(r["pairs"], 10)

    def test_wide_spread_is_unresolved(self):
        noisy = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(ab.verdict(noisy, list(noisy), "lower", 0.1)["verdict"], "unresolved")

    def test_higher_is_better(self):
        change = [x * 1.3 for x in self.parent]
        self.assertEqual(ab.verdict(self.parent, change, "higher", 0.1)["verdict"], "gain")


def run(value, correct=True, failed=0, attempted=10):
    return {"stamp": {"workload": "w", "trace": 0},
            "result": {"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {"pass_s": {"value": value, "unit": "s"}}}}


class CompareTest(unittest.TestCase):
    metric = {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1}
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_faster_change_is_a_gain(self):
        r = ab.compare([run(x) for x in self.parent], [run(x * 0.8) for x in self.parent], self.metric)
        self.assertEqual(r["verdict"], "gain")

    def test_more_failures_is_never_a_gain(self):
        change = [run(x * 0.8) for x in self.parent]
        change[3] = run(1.0, correct=False, failed=2)
        r = ab.compare([run(x) for x in self.parent], change, self.metric)
        self.assertEqual(r["verdict"], "failing")

    def test_a_failed_run_drops_its_pair_and_keeps_the_rest_aligned(self):
        # both sides alternate slow/fast run by run; dropping the parent's
        # failed run must not shift the later pairs into slow-vs-fast ties
        parent = [run(10.0 if i % 2 else 12.0) for i in range(10)]
        change = [run(10.0 if i % 2 else 12.0) for i in range(10)]
        parent[2] = run(12.0, correct=False, failed=1)
        r = ab.compare(parent, change, self.metric)
        self.assertEqual(r["pairs"], 9)
        self.assertEqual(r["won_parent"], 0.0)
        self.assertEqual(r["won_change"], 0.0)


if __name__ == "__main__":
    unittest.main()
