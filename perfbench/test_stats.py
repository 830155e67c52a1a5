"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile([7], 0.99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(1, 21))), (0.5, 10))
        # 99 samples: only 9 lie beyond p90, so the median is the highest
        self.assertEqual(stats.tail_percentile(list(range(1, 100)))[0], 0.5)
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (0.9, 90))
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (0.99, 990))


def span(i, parent, start, end, name="store.x"):
    return {"id": i, "parent": parent, "op": 1, "name": name,
            "start_ns": start, "end_ns": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [span(1, 0, 0, 100, "op.query"), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 1, 80, 90), span(5, 2, 15, 20)]
        own = stats.self_times(spans)
        # root: 100 minus the union [10, 60] + [80, 90] = 60
        self.assertEqual(own[1], 40)
        self.assertEqual(own[2], 25)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[5], 5)

    def test_child_outside_parent_is_clipped(self):
        own = stats.self_times([span(1, 0, 0, 50), span(2, 1, 40, 70)])
        self.assertEqual(own[1], 40)

    def test_layer_sums(self):
        spans = [span(1, 0, 0, 100, "op.query"), span(2, 1, 0, 30, "store.exec"),
                 span(3, 1, 30, 50, "traverse.plan")]
        self.assertEqual(stats.layer_self_seconds(spans),
                         {"op": 50e-9, "store": 30e-9, "traverse": 20e-9})


if __name__ == "__main__":
    unittest.main()
