"""Cases for tools/check.py's `compare`.

Run: python3 -m unittest tools/test_check.py
"""
import os
import sys
import unittest
from decimal import Decimal

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import compare  # noqa: E402

ORDERED = pd.DataFrame({"k": [1, 2, 3], "name": ["a", "b", "c"],
                        "v": [0.5, 1.25, 2.0]})


class CompareTest(unittest.TestCase):

    def test_identical_dump_is_ok(self):
        self.assertEqual(compare(ORDERED, ORDERED.copy()), ([], True, 0))

    def test_permuted_dump_of_an_ordered_query_fails(self):
        mine = ORDERED.iloc[[2, 0, 1]].reset_index(drop=True)
        errs, _, _ = compare(mine, ORDERED)
        self.assertIn("same rows in another order [ORDER]", errs)

    def test_int_against_float_is_a_dtype_failure_within_1e9(self):
        ora = ORDERED.assign(k=ORDERED["k"].astype("float64"))
        errs, tol_ok, _ = compare(ORDERED, ora)
        self.assertTrue(any("[DTYPE]" in e for e in errs))
        self.assertTrue(tol_ok)

    def test_decimal_against_int_is_a_dtype_failure(self):
        mine = ORDERED.assign(k=[Decimal(1), Decimal(2), Decimal(3)])
        errs, _, _ = compare(mine, ORDERED)
        self.assertTrue(any("k decimal/integer" in e for e in errs))

    def test_last_bit_float_difference_fails_within_1e9(self):
        ora = ORDERED.assign(v=[0.5, 1.25, 2.0000000000000004])
        errs, tol_ok, _ = compare(ORDERED, ora)
        self.assertEqual(errs, ["col v: 1 exact diffs, 0 beyond-1e-9 "
                                "diffs [EXACT-ONLY]"])
        self.assertTrue(tol_ok)

    def test_signed_zero_and_nulls(self):
        zero = pd.DataFrame({"v": [0.0, float("nan")]})
        self.assertEqual(compare(zero, zero.copy()), ([], True, 0))
        errs, tol_ok, _ = compare(pd.DataFrame({"v": [-0.0, float("nan")]}),
                                  zero)
        self.assertEqual(len(errs), 1)
        self.assertTrue(tol_ok)
        errs, tol_ok, _ = compare(pd.DataFrame({"v": [0.0, 1.0]}), zero)
        self.assertFalse(tol_ok)

    def test_wrong_value_fails_beyond_1e9(self):
        ora = ORDERED.assign(name=["a", "x", "c"])
        errs, tol_ok, _ = compare(ORDERED, ora)
        self.assertEqual(errs, ["col name: 1 exact diffs, 1 beyond-1e-9 "
                                "diffs [VALUE]"])
        self.assertFalse(tol_ok)

    def test_r6_ties_forgive_only_tie_cells(self):
        ora = ORDERED.assign(v=[0.5, 1.250001, 2.0])
        self.assertEqual(compare(ORDERED, ora, tie_ok=True), ([], True, 1))
        self.assertTrue(compare(ORDERED, ora)[0])
        # a tie does not excuse a value-type change in another column
        ora_k = ora.assign(k=ora["k"].astype("float64"))
        errs, _, ties = compare(ORDERED, ora_k, tie_ok=True)
        self.assertEqual(ties, 1)
        self.assertTrue(any("[DTYPE]" in e for e in errs))
        # nor a permuted row
        errs, _, _ = compare(ORDERED.iloc[[1, 0, 2]].reset_index(drop=True),
                             ora, tie_ok=True)
        self.assertTrue(errs)

    def test_shape_mismatch(self):
        self.assertFalse(compare(ORDERED, ORDERED.head(2))[1])
        self.assertFalse(compare(ORDERED, ORDERED[["k", "v"]])[1])


if __name__ == "__main__":
    unittest.main()
