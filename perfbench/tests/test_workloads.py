import unittest

from bench.workloads import WORKLOADS, pass_orders


class SeededOrderTest(unittest.TestCase):
    def test_same_seed_same_orders(self):
        names = WORKLOADS["sql-short"]
        self.assertEqual(pass_orders(names, 7, 5), pass_orders(names, 7, 5))

    def test_orders_are_permutations(self):
        names = WORKLOADS["sql-short"]
        for order in pass_orders(names, 3, 10):
            self.assertEqual(sorted(order), sorted(names))

    def test_seed_and_pass_change_the_order(self):
        names = [f"q{i}" for i in range(12)]
        a, b = pass_orders(names, 1, 2)
        self.assertNotEqual(a, b)
        self.assertNotEqual(pass_orders(names, 1, 1), pass_orders(names, 2, 1))

    def test_workloads_do_not_overlap(self):
        seen = [n for names in WORKLOADS.values() for n in names]
        self.assertEqual(len(seen), len(set(seen)))


if __name__ == "__main__":
    unittest.main()
