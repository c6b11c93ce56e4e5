"""Tests of the benchmark's statistics and span arithmetic.

    python3 perfbench/test_stats.py
"""
import os
import statistics
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "name": f"s{i}"}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        v, level, n = stats.tail(list(range(100)))
        self.assertEqual(v, 89)  # 90..99 lie beyond it
        self.assertEqual(sum(1 for x in range(100) if x > v), 10)
        self.assertAlmostEqual(level, 90.0)
        self.assertEqual(n, 100)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 1.0)

    def test_smallest_qualifying_sample_count(self):
        v, level, n = stats.tail([float(i) for i in range(11)])
        self.assertEqual((v, n), (0.0, 11))
        self.assertAlmostEqual(level, 100 / 11)

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([1.0] * 10), (1.0, 100.0, 10))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 12.0, 9.9, 10.4, 10.1, 10.8, 9.7]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / statistics.median(xs))

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.quartile_spread([2.0] * 10), 0.0)

    def test_scale_free(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        self.assertAlmostEqual(stats.quartile_spread(xs),
                               stats.quartile_spread([100 * x for x in xs]))


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([span(0, -1, 0, 1500)])[0], 1.5)

    def test_children_are_subtracted(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 100, 300), span(2, 0, 500, 900)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 0.4)
        self.assertAlmostEqual(st[1], 0.2)
        self.assertAlmostEqual(st[2], 0.4)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 100, 600), span(2, 0, 400, 800)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 0.3)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, -1, 100, 200), span(1, 0, 50, 150)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 0.05)

    def test_grandchildren_do_not_reduce_the_root(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 0, 500), span(2, 1, 0, 400)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 0.5)
        self.assertAlmostEqual(st[1], 0.1)
        self.assertAlmostEqual(sum(st.values()), 1.0)

    def test_innermost_span_and_root(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 100, 600), span(2, 1, 200, 300),
                 span(3, -1, 2000, 3000)]
        by_id = {s["id"]: s for s in spans}
        self.assertEqual(stats.innermost_span(spans, 250)["id"], 2)
        self.assertEqual(stats.innermost_span(spans, 650)["id"], 0)
        self.assertIsNone(stats.innermost_span(spans, 1500))
        self.assertEqual(stats.root_of(by_id, 2)["id"], 0)


if __name__ == "__main__":
    unittest.main()
