import unittest

from bench import layers


class SkewTest(unittest.TestCase):
    def test_median_over_stages_of_max_over_median(self):
        # per-stage ratios 4.0, 1.5 and 3.0
        stages = [{"task_ms": [10, 10, 40]}, {"task_ms": [2, 4, 6]}, {"task_ms": [1, 1, 3]}]
        self.assertEqual(layers.skew(stages), 3.0)

    def test_single_task_and_zero_median_stages_are_ignored(self):
        self.assertEqual(layers.skew([{"task_ms": [100]}, {"task_ms": [0, 0, 9]}]), 1.0)
        self.assertEqual(layers.skew([{"task_ms": [1, 3]}]), 1.5)


if __name__ == "__main__":
    unittest.main()
