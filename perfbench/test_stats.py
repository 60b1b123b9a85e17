"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import tempfile
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_smallest_sample_with_a_tail(self):
        value, pct, n = stats.tail([5, 1, 4, 2, 3, 11, 10, 9, 8, 7, 6])
        self.assertEqual((value, n), (1, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_order_does_not_matter(self):
        xs = [float(i * 7 % 23) for i in range(23)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class RecallTest(unittest.TestCase):
    def test_counts_only_the_first_k(self):
        self.assertEqual(stats.recall(["a", "b", "x", "c"], ["a", "b", "c"], 3), 2 / 3)

    def test_order_within_k_is_ignored(self):
        self.assertEqual(stats.recall(["c", "a", "b"], ["a", "b", "c"], 3), 1.0)

    def test_mean_over_queries(self):
        got = [["a", "b"], ["x", "y"]]
        want = [["a", "b"], ["x", "z"]]
        self.assertEqual(stats.mean_recall(got, want, 2), 0.75)

    def test_short_truth(self):
        self.assertEqual(stats.recall(["a", "b"], ["a"], 2), 1.0)


class StoreRatioTest(unittest.TestCase):
    def test_disk_per_input(self):
        # 1,000 rows of 384 f32 take 1,536,000 bytes
        self.assertAlmostEqual(stats.disk_per_input(3_072_000, 1000, 384), 2.0)


class CallSiteTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        for rel in ("src/main/scala/graft/store/CollectionStore.scala",
                    "src/main/scala/graft/ann/IvfPq.scala",
                    "src/main/scala/graft/SparkEntry.scala",
                    "src/main/java/graft/simd/SimdRank.java",
                    "perfbench/harness/src/main/scala/perfbench/Workloads.scala"):
            os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
            open(os.path.join(root, rel), "w").close()
        self.index = stats.source_index(root)

    def tearDown(self):
        self.tmp.cleanup()

    def test_engine_packages(self):
        self.assertEqual(stats.package_of("collect at CollectionStore.scala:87", self.index),
                         "store")
        self.assertEqual(stats.package_of("treeAggregate at IvfPq.scala:212", self.index), "ann")
        self.assertEqual(stats.package_of("run at SimdRank.java:40", self.index), "simd")

    def test_top_level_builders_and_harness(self):
        self.assertEqual(stats.package_of("count at SparkEntry.scala:30", self.index), "entry")
        self.assertEqual(stats.package_of("collect at Workloads.scala:201", self.index), "bench")

    def test_unknown_sites(self):
        self.assertEqual(stats.package_of("save at Unknown.scala:1", self.index), "other")
        self.assertEqual(stats.package_of("", self.index), "other")
        self.assertEqual(stats.package_of(None, self.index), "other")


class SpanTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered([(0, 4), (2, 6), (8, 20)], 1, 10), 7)
        self.assertEqual(stats.covered([], 0, 5), 0)

    def test_self_time_subtracts_child_union(self):
        spans = [
            {"id": "op", "parent": None, "name": "op", "start": 0, "end": 100},
            {"id": "j1", "parent": "op", "name": "job", "start": 10, "end": 50},
            {"id": "j2", "parent": "op", "name": "job", "start": 40, "end": 70},
            {"id": "s1", "parent": "j1", "name": "stage", "start": 20, "end": 30},
        ]
        got = stats.self_times(spans)
        self.assertEqual(got["op"], 40)
        self.assertEqual(got["job"], 30 + 30)
        self.assertEqual(got["stage"], 10)


class SpreadTest(unittest.TestCase):
    def test_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), 3.0 / 3)


if __name__ == "__main__":
    unittest.main()
