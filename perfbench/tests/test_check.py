"""Unit tests of the output comparator and the stream reference count:

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402


class CompareTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        got = pd.DataFrame({"b": [2.5, 1.5], "a": ["y", "x"]})
        exp = pd.DataFrame({"a": ["x", "y"], "b": [1.5, 2.5]})
        self.assertEqual(check.compare(got, exp), "OK")

    def test_floats_must_be_bit_equal(self):
        got = pd.DataFrame({"v": [0.1 + 0.2]})
        exp = pd.DataFrame({"v": [0.3]})
        self.assertTrue(check.compare(got, exp).startswith("value"))

    def test_dtype_drift_fails(self):
        got = pd.DataFrame({"v": [1.0, 2.0]})
        exp = pd.DataFrame({"v": [1, 2]})
        self.assertTrue(check.compare(got, exp).startswith("dtype"))
        dec = pd.DataFrame({"v": [decimal.Decimal("1.0")]})
        self.assertTrue(check.compare(pd.DataFrame({"v": [1.0]}), dec).startswith("dtype"))

    def test_integer_width_is_not_representation(self):
        got = pd.DataFrame({"v": pd.Series([1, 2], dtype="int32")})
        exp = pd.DataFrame({"v": pd.Series([2, 1], dtype="int64")})
        self.assertEqual(check.compare(got, exp), "OK")

    def test_schema_and_row_count(self):
        self.assertTrue(check.compare(pd.DataFrame({"a": [1]}),
                                      pd.DataFrame({"b": [1]})).startswith("schema"))
        self.assertTrue(check.compare(pd.DataFrame({"a": [1]}),
                                      pd.DataFrame({"a": [1, 1]})).startswith("row count"))

    def test_nulls_and_nans(self):
        got = pd.DataFrame({"s": ["a", None], "f": [float("nan"), 1.0]})
        exp = pd.DataFrame({"s": ["a", None], "f": [float("nan"), 1.0]})
        self.assertEqual(check.compare(got, exp), "OK")
        self.assertFalse(check.cell_eq(None, float("nan")))


class StreamReferenceTest(unittest.TestCase):
    def test_counts_per_window_and_word_with_replay_shift(self):
        events = [(1000, "a b"), (9999, "a"), (10000, "b")]
        got = check.reference_counts(events, 5, window_ms=10000, shift_ms=20000)
        self.assertEqual(got, {(0, "a"): 2, (0, "b"): 1, (10000, "b"): 1,
                               (20000, "a"): 2, (20000, "b"): 1})

    def test_compare_counts_names_missing_wrong_and_extra(self):
        exp = {(0, "a"): 2, (0, "b"): 1}
        got = {(0, "a"): 2, (0, "b"): 3, (10, "c"): 1}
        self.assertEqual(check.compare_counts(got, exp),
                         [((0, "b"), 3, 1), ((10, "c"), 1, None)])
        self.assertEqual(check.compare_counts(exp, exp), [])


if __name__ == "__main__":
    unittest.main()
