"""Unit tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics as m  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct = m.tail(xs)
        self.assertEqual(v, 90)  # 91..100 lie beyond it
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(m.tail([5, 1, 4, 2, 3] * 5), m.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_few_samples_fall_back_to_upper_median(self):
        self.assertEqual(m.tail([3.0, 1.0, 2.0])[0], 2.0)
        self.assertEqual(m.tail([1.0, 2.0, 3.0, 4.0])[0], 3.0)
        self.assertEqual(m.tail([7.0])[0], 7.0)
        self.assertEqual(m.tail([]), (0.0, 0.0))

    def test_exactly_21_samples(self):
        v, _ = m.tail(list(range(21)))
        self.assertEqual(v, 10)  # the median, with 10 beyond it


class DriverGapTest(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(m.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(m.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(m.union_length([]), 0)

    def test_gap_is_wall_outside_any_job(self):
        # wall 0..10; jobs cover 1..4 and 3..6 -> 5 covered
        self.assertAlmostEqual(m.driver_gap_frac([(1, 4), (3, 6)], 0, 10), 0.5)

    def test_jobs_are_clipped_to_the_operation(self):
        self.assertAlmostEqual(m.driver_gap_frac([(-5, 2), (9, 20)], 0, 10), 0.7)
        self.assertAlmostEqual(m.driver_gap_frac([(20, 30)], 0, 10), 1.0)

    def test_no_wall(self):
        self.assertEqual(m.driver_gap_frac([(0, 1)], 3, 3), 0.0)


def span(i, parent, start, end, label):
    return {"id": i, "parent": parent, "start": start, "end": end, "label": label}


class SelfTimeTest(unittest.TestCase):
    def test_nested_children_are_subtracted(self):
        spans = [span(1, 0, 0, 10, "op"), span(2, 1, 1, 4, "a"), span(3, 2, 2, 3, "cat")]
        st = m.self_times(spans, lambda s: s["label"])
        self.assertAlmostEqual(st["op"], 7)
        self.assertAlmostEqual(st["a"], 2)
        self.assertAlmostEqual(st["cat"], 1)

    def test_concurrent_spans_share_the_clock(self):
        # two nodes overlap on 2..4: each gets half of those 2 seconds
        spans = [span(1, 0, 0, 6, "op"), span(2, 1, 0, 4, "a"), span(3, 1, 2, 6, "b")]
        st = m.self_times(spans, lambda s: s["label"])
        self.assertAlmostEqual(st["a"], 3)
        self.assertAlmostEqual(st["b"], 3)
        self.assertAlmostEqual(st.get("op", 0.0), 0)
        self.assertAlmostEqual(sum(st.values()), 6)

    def test_totals_reconcile_with_the_root(self):
        spans = [span(1, 0, 0, 10, "op"), span(2, 1, 1, 9, "a"), span(3, 1, 2, 5, "b"),
                 span(4, 2, 3, 4, "cat"), span(5, 3, 3.5, 4.5, "cat")]
        st = m.self_times(spans, lambda s: s["label"])
        self.assertAlmostEqual(sum(st.values()), 10)


class NodeWaitTest(unittest.TestCase):
    def test_wait_counts_from_the_last_producer(self):
        nodes = [
            {"name": "x", "start": 0, "end": 2, "inputs": ["in"], "outputs": ["a"]},
            {"name": "y", "start": 1, "end": 5, "inputs": ["in"], "outputs": ["b"]},
            {"name": "z", "start": 6, "end": 7, "inputs": ["a", "b"], "outputs": ["c"]},
        ]
        w = m.node_waits(nodes, group_start=0)
        self.assertEqual(w, {"x": 0, "y": 1, "z": 1})

    def test_critical_path_follows_the_longest_chain(self):
        nodes = [
            {"name": "x", "start": 0, "end": 2, "inputs": [], "outputs": ["a"]},
            {"name": "y", "start": 0, "end": 5, "inputs": [], "outputs": ["b"]},
            {"name": "z", "start": 5, "end": 6, "inputs": ["a", "b"], "outputs": ["c"]},
        ]
        self.assertEqual(m.critical_path(nodes), 6)


if __name__ == "__main__":
    unittest.main()
