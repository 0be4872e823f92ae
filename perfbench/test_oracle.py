"""Tests for the oracle comparison: python3 -m unittest discover -s perfbench"""
import unittest

import oracle


class CanonTest(unittest.TestCase):
    def test_sorts_columns_by_name_and_rows_by_value(self):
        cols, rows, types = oracle.canon([(2, "b"), (1, "a")], ["z", "a"], ["BIGINT", "VARCHAR"])
        self.assertEqual(cols, ["a", "z"])
        self.assertEqual(rows, [("a", 1), ("b", 2)])
        self.assertEqual(types, ["VARCHAR", "INTLIKE"])


class CompareTest(unittest.TestCase):
    def canon(self, rows, types=("INTEGER", "DOUBLE")):
        return oracle.canon(rows, ["k", "v"], list(types))

    def test_equal_results_agree_across_int_widths(self):
        self.assertIsNone(oracle.compare(self.canon([(1, 0.5), (2, 1.5)]),
                                         self.canon([(2, 1.5), (1, 0.5)], ("BIGINT", "DOUBLE"))))

    def test_differences_are_reported(self):
        base = self.canon([(1, 0.5)])
        self.assertIn("cells", oracle.compare(self.canon([(1, 0.25)]), base))
        self.assertIn("rows", oracle.compare(self.canon([(1, 0.5), (2, 0.5)]), base))
        self.assertIn("types", oracle.compare(self.canon([(1, 0.5)], ("INTEGER", "HUGEINT")), base))
        self.assertIn("cells", oracle.compare(self.canon([(1, -0.0)]), self.canon([(1, 0.0)])))


if __name__ == "__main__":
    unittest.main()
