import unittest

from bench import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(values, 50), 50)
        self.assertEqual(stats.percentile(values, 90), 90)
        self.assertEqual(stats.percentile(values, 100), 100)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 60), 3)

    def test_rejects_empty_and_bad_q(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 0)
        with self.assertRaises(ValueError):
            stats.percentile([1], 101)


class SampleCountTest(unittest.TestCase):
    def test_samples_needed_leaves_ten_beyond(self):
        self.assertEqual(stats.samples_needed(90), 100)
        self.assertEqual(stats.samples_needed(99), 1000)
        self.assertEqual(stats.samples_needed(50), 20)


if __name__ == "__main__":
    unittest.main()
