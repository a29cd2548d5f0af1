"""Self-tests of the benchmark's statistics: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(M.tail_percentile(range(1, 101), 90), (90, 10))
        value, beyond = M.tail_percentile(range(1, 100), 90)
        self.assertIsNone(value)
        self.assertEqual(beyond, 9)

    def test_p50_of_few_samples(self):
        self.assertEqual(M.tail_percentile(list(range(1, 22)), 50), (11, 10))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        # overlapping children cover [2, 6] and [8, 9] of [0, 10]
        self.assertEqual(M.self_time(0, 10, [(2, 5), (3, 6), (8, 9)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(M.self_time(0, 10, [(-5, 2), (9, 20)]), 7)
        self.assertEqual(M.self_time(0, 10, []), 10)


class Verdict(unittest.TestCase):
    parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_same_runs_are_within_bound(self):
        self.assertEqual(M.verdict(self.parent, list(self.parent), 0.1), "within bound")

    def test_worse_than_bound(self):
        self.assertEqual(M.verdict(self.parent, [x * 1.2 for x in self.parent], 0.1), "worse")

    def test_higher_is_better(self):
        slower = [x * 0.8 for x in self.parent]
        self.assertEqual(M.verdict(self.parent, slower, 0.1, better="higher"), "worse")
        self.assertEqual(M.verdict(slower, self.parent, 0.1, better="higher"), "gain")

    def test_gain_needs_nine_pairs_in_ten(self):
        faster = [x * 0.9 for x in self.parent]
        self.assertEqual(M.verdict(self.parent, faster, 0.1), "gain")
        mixed = faster[:8] + [x * 1.05 for x in self.parent[8:]]
        self.assertNotEqual(M.verdict(self.parent, mixed, 0.1), "gain")

    def test_noisy_parent_is_unresolved(self):
        noisy = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
        self.assertEqual(M.verdict(noisy, [x * 1.05 for x in noisy], 0.1), "unresolved")


def runs(failed, attempted=20, seeds=range(1, 11), lost=()):
    return {s: {"exit": 2} if s in lost else
            {"exit": 1 if failed else 0, "correct": not failed, "attempted": attempted,
             "failed": failed, "metrics": {}} for s in seeds}


class OpsVerdict(unittest.TestCase):
    def test_same_correctness(self):
        self.assertEqual(M.ops_verdict(runs(0), runs(0))[0], "same")

    def test_more_failed_ops_is_worse(self):
        self.assertEqual(M.ops_verdict(runs(0), runs(1))[0], "worse")
        self.assertEqual(M.ops_verdict(runs(1), runs(0))[0], "same")

    def test_missing_seed_or_workload_is_worse(self):
        self.assertEqual(M.ops_verdict(runs(0), runs(0, seeds=range(1, 10)))[0], "worse")
        self.assertEqual(M.ops_verdict(runs(0), {})[0], "worse")

    def test_run_without_result_is_worse(self):
        self.assertEqual(M.ops_verdict(runs(0), runs(0, lost={3}))[0], "worse")


if __name__ == "__main__":
    unittest.main()
