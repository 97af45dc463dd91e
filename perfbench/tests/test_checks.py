"""Tests of the oracle comparison the board's output check uses (the
repository's tools/oracle_check.py rules).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import compare  # noqa: E402


class CompareTest(unittest.TestCase):
    def setUp(self):
        self.oracle = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5],
                                    "s": ["a", "b", "c"]})

    def test_row_and_column_order_do_not_matter(self):
        got = self.oracle[["s", "v", "k"]].iloc[::-1]
        self.assertIsNone(compare("q", got, self.oracle))

    def test_floats_within_tolerance_agree(self):
        got = self.oracle.assign(v=self.oracle.v * (1 + 1e-9))
        self.assertIsNone(compare("q", got, self.oracle))

    def test_wrong_value_is_caught(self):
        got = self.oracle.assign(v=[0.5, 1.5, 2.6])
        self.assertIn("VALUE MISMATCH col=v", compare("q", got, self.oracle))

    def test_missing_row_is_caught(self):
        self.assertIn("ROW COUNT", compare("q", self.oracle.iloc[:2],
                                           self.oracle))

    def test_integer_against_float_is_caught(self):
        got = self.oracle.assign(k=self.oracle.k.astype(float))
        self.assertIn("DTYPE MISMATCH", compare("q", got, self.oracle))

    def test_missing_output_is_caught(self):
        self.assertIn("MISSING", compare("q", None, self.oracle))

    def test_array_cells_are_refused(self):
        arr = pd.DataFrame({"a": [np.array([1, 2]), np.array([3])]})
        with self.assertRaises(TypeError):
            compare("q", arr, arr)


if __name__ == "__main__":
    unittest.main()
