"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics as M


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = M.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_percentile_follows_sample_count(self):
        value, pct, beyond = M.tail([5.0] * 30 + [9.0] * 10)
        self.assertEqual((value, pct, beyond), (5.0, 75.0, 10))

    def test_order_does_not_matter(self):
        self.assertEqual(M.tail([3, 1, 2] + list(range(10, 30))),
                         M.tail(sorted([3, 1, 2] + list(range(10, 30)))))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(M.tail([0.3, 0.1, 0.2]), (0.3, 100.0, 0))
        self.assertEqual(M.tail(list(range(10))), (9, 100.0, 0))
        self.assertEqual(M.tail(list(range(11)))[1:], (100.0 / 11, 10))


class IdleTest(unittest.TestCase):
    def test_overlapping_tasks_count_once(self):
        # op 0..10; tasks 1..4 and 3..6 overlap: busy 1..6, idle 5
        self.assertEqual(M.idle_time([(0, 10)], [(1, 4), (3, 6)]), 5)

    def test_nested_and_disjoint_tasks(self):
        tasks = [(1, 9), (2, 3), (12, 14)]
        self.assertEqual(M.idle_time([(0, 10), (10, 20)], tasks),
                         (10 - 8) + (10 - 2))

    def test_tasks_are_clipped_to_the_operation(self):
        self.assertEqual(M.idle_time([(5, 10)], [(0, 7), (9, 30)]), 2)

    def test_no_tasks_is_all_idle(self):
        self.assertEqual(M.idle_time([(0, 3), (4, 6)], []), 5)


class CoreUtilTest(unittest.TestCase):
    def test_share_of_core_time(self):
        self.assertAlmostEqual(M.core_util(8.0, 4.0, 4), 0.5)
        self.assertAlmostEqual(M.core_util(16.0, 4.0, 4), 1.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 0, "parent": -1, "name": "op", "start": 0, "end": 10},
            {"id": 1, "parent": 0, "name": "build", "start": 1, "end": 4},
            {"id": 2, "parent": 0, "name": "exec", "start": 4, "end": 9},
            {"id": 3, "parent": 2, "name": "inner", "start": 5, "end": 6},
        ]
        self.assertEqual(M.self_times(spans),
                         {"op": 2, "build": 3, "exec": 4, "inner": 1})


class FingerprintTest(unittest.TestCase):
    fp = {"rows": 3, "hash": -42}

    def test_equal_fingerprints_match(self):
        self.assertTrue(M.same_fingerprint(dict(self.fp), self.fp))

    def test_row_count_or_hash_differs(self):
        self.assertFalse(M.same_fingerprint({"rows": 4, "hash": -42}, self.fp))
        self.assertFalse(M.same_fingerprint({"rows": 3, "hash": 7}, self.fp))

    def test_missing_result_never_matches(self):
        self.assertFalse(M.same_fingerprint(None, self.fp))


class CheckTest(unittest.TestCase):
    good = {"rows": 1, "hash": 5}

    def op(self, name, fp, ok=True):
        return {"name": name, "fp": fp, "ok": ok}

    def test_wrong_result_is_a_failure(self):
        ops = [self.op("q", self.good), self.op("q", {"rows": 1, "hash": 6})]
        bad = M.check_ops(ops, {"q": self.good}, {})
        self.assertEqual(bad, ["q"])
        self.assertEqual(M.failed_frac(len(ops), len(bad)), 0.5)

    def test_throw_is_a_failure(self):
        bad = M.check_ops([self.op("q", None, ok=False)], None, {})
        self.assertEqual(bad, ["q"])

    def test_without_pinned_file_warm_up_is_the_reference(self):
        ops = [self.op("q", self.good), self.op("q", {"rows": 2, "hash": 5})]
        self.assertEqual(M.check_ops(ops, None, {"q": self.good}), ["q"])

    def test_pinned_file_wins_over_warm_up(self):
        ops = [self.op("q", self.good)]
        self.assertEqual(
            M.check_ops(ops, {"q": {"rows": 9, "hash": 9}}, {"q": self.good}),
            ["q"])

    def test_all_correct(self):
        ops = [self.op("q", self.good)] * 3
        self.assertEqual(M.check_ops(ops, {"q": self.good}, {}), [])
        self.assertEqual(M.failed_frac(3, 0), 0.0)


if __name__ == "__main__":
    unittest.main()
