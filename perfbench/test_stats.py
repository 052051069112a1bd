"""Tests of the benchmark's own arithmetic and of its input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)
        self.assertEqual(stats.percentile(list(reversed(xs)), 10), 1)

    def test_tail(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (100, 90, 90))
        self.assertEqual(stats.tail([5.0] * 19), (19, 0, 0.0))

    def test_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(100, 95), 5)
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(1000), 99)
        self.assertEqual(stats.highest_percentile(20), 50)
        self.assertIsNone(stats.highest_percentile(19))

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class SelfTime(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        spans = [
            (1, 1, 0, "root", 0, 100),
            (1, 2, 1, "a", 10, 30),
            (1, 3, 1, "b", 20, 40),     # overlaps a: the union 10..40 counts once
            (1, 4, 1, "c", 90, 120),    # runs past the parent: clipped to 90..100
            (1, 5, 2, "grandchild", 12, 14),
        ]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs[1], 100 - 30 - 10)
        self.assertEqual(selfs[2], 20 - 2)
        self.assertEqual(selfs[3], 20)
        self.assertEqual(selfs[5], 2)

    def test_leaf(self):
        self.assertEqual(stats.self_times([(9, 9, 0, "x", 5, 8)]), {9: 3})


class Recall(unittest.TestCase):
    def test_mean_share_of_exact_top_k(self):
        pairs = [([1, 2, 3], [1, 2, 4]), ([5, 6], [5, 6]), ([1], [])]
        self.assertAlmostEqual(stats.recall(pairs), (2 / 3 + 1) / 2)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.recall([([3, 2, 1], [1, 2, 3])]), 1.0)

    def test_no_pairs(self):
        with self.assertRaises(ValueError):
            stats.recall([])


class Metrics(unittest.TestCase):
    def raw(self):
        return {
            "workload": "ingest_fresh",
            "ops": {"fresh": {"lat_ms": [10.0, 20.0, 30.0, 40.0], "attempted": 5, "failed": 1},
                    "compact": {"lat_ms": [500.0, 1500.0], "attempted": 2, "failed": 0},
                    "append": {"lat_ms": [1.0, 2.0, 3.0, 4.0], "attempted": 4, "failed": 0}},
            "recall": [([1, 2], [1, 2])],
            "values": {"setup_s": [3.0, 1.0, 2.0], "build_s": 4.0, "heap_mb": 50.0,
                       "window_s": 20.0},
        }

    def test_end_to_end(self):
        m = stats.end_to_end(self.raw())
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["query_p50_ms"], 25.0)
        self.assertEqual(m["second_p50_ms"], 1000.0)
        self.assertAlmostEqual(m["throughput_per_s"], 250 * 4 / 20.0)
        self.assertAlmostEqual(m["ok_ratio"], 10 / 11)
        self.assertEqual(set(m), set(stats.END_TO_END))


class GeneratorDeterminism(unittest.TestCase):
    """The same seed gives byte-identical inputs; another seed does not."""

    def digest(self, seed):
        classes = build.ensure()
        return subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(classes), "perfbench.Main",
                               "digest", str(seed)], check=True, capture_output=True,
                              text=True).stdout.strip()

    def test_seeded(self):
        a, b, c = self.digest(1), self.digest(1), self.digest(2)
        self.assertEqual(len(a), 64)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
