"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s graftbench -p 'test_*.py'

The answer-checksum test starts the harness JVM and is skipped until a
benchmark run has built it."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        vals = list(range(1, 101))          # 100 samples
        pct, value, beyond = stats.tail(vals)
        self.assertEqual((pct, value, beyond), (90.0, 90, 10))

    def test_fewer_samples_fall_back_to_lower_rungs(self):
        self.assertEqual(stats.tail(list(range(1, 41)))[:2], (75.0, 30))
        self.assertEqual(stats.tail(list(range(1, 33)))[:2], (65.0, 21))
        self.assertEqual(stats.tail(list(range(1, 21)))[:2], (50.0, 10))

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertIsNone(stats.tail([]))

    def test_order_does_not_matter(self):
        vals = [5, 3, 9, 1, 7] * 40
        self.assertEqual(stats.tail(vals), stats.tail(sorted(vals)))

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([10, 20, 30, 40], 50), (20, 2))
        self.assertEqual(stats.nearest_rank([10, 20, 30, 40], 99.9), (40, 4))


class SelfTimeTest(unittest.TestCase):
    def span(self, name, t0, t1):
        return {"name": name, "t0": t0, "t1": t1}

    def test_nested_children_are_subtracted_once(self):
        spans = [self.span("op", 0, 100), self.span("build", 0, 30),
                 self.span("analysis", 5, 15), self.span("job", 40, 90)]
        self.assertEqual(dict(stats.self_times(spans)),
                         {"op": 20, "build": 20, "analysis": 10, "job": 50})

    def test_overlapping_children_count_once(self):
        spans = [self.span("op", 0, 100), self.span("job", 10, 60), self.span("job2", 40, 80)]
        # job2 is not inside job, so both are children of op; union = 70
        self.assertEqual(stats.self_times(spans)[0], ("op", 30))

    def test_identical_spans_nest_by_order(self):
        spans = [self.span("op", 0, 10), self.span("insert", 0, 10)]
        self.assertEqual(stats.self_times(spans), [("op", 0), ("insert", 10)])


class AttributionTest(unittest.TestCase):
    def test_jobs_follow_the_op_property_and_its_time(self):
        ops = [{"id": 0, "t0": 0, "t1": 50}, {"id": 1, "t0": 50.6, "t1": 100}]
        jobs = [{"job": 7, "op": "0", "t0": 10},
                # job times are whole ms: 50 is inside an op that began at 50.6
                {"job": 6, "op": "1", "t0": 50},
                {"job": 8, "op": "1", "t0": 60},
                # a maintenance-thread job carrying op 0's inherited id
                {"job": 9, "op": "0", "t0": 70},
                {"job": 10, "op": "", "t0": 20}]
        self.assertEqual(stats.attribute_jobs(ops, jobs), {6: 1, 7: 0, 8: 1, 9: None, 10: None})


class AnswerTest(unittest.TestCase):
    def test_checksum_match_rule(self):
        expected = {"a": {"n": 3, "h": 42}, "b": {"n": 1, "h": 5}}
        ops = [{"name": "a", "kind": "read", "ok": True, "key": "a", "n": 3, "h": 42},
               {"name": "b", "kind": "read", "ok": True, "key": "b", "n": 1, "h": 6},
               {"name": "c", "kind": "read", "ok": True, "key": "c", "n": 1, "h": 6},
               {"name": "w", "kind": "write", "ok": True},
               {"name": "drain", "kind": "drain", "ok": True},
               {"name": "x", "kind": "read", "ok": False, "err": "boom"}]
        good, bad = stats.check_answers(ops, expected)
        self.assertEqual(good, 3)
        self.assertEqual([b[0] for b in bad], ["b", "c", "x"])


class ChecksumTest(unittest.TestCase):
    """The JVM-side row checksum: equal for the same row multiset however
    it is ordered, partitioned or typed, different otherwise."""

    def test_checksum_rule(self):
        here = os.path.dirname(os.path.abspath(__file__))
        cp_file = os.path.join(here, "target", "classpath.txt")
        if not os.path.isfile(cp_file):
            self.skipTest("harness not built yet (run the benchmark once)")
        import run
        log = os.path.join(here, "target", "selftest.log")
        run.java(open(cp_file).read().strip(), ["selftest"], timeout=170, log_path=log)
        with open(log) as f:
            self.assertIn("selftest ok", f.read())


if __name__ == "__main__":
    unittest.main()
