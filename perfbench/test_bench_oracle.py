"""Tests for the oracle comparison: python -m pytest perfbench/test_bench_oracle.py"""

from datetime import date, datetime, timezone
from decimal import Decimal

import numpy as np

from oracle import canon_value, same_result


def test_canon_value_normalises_types():
    assert canon_value(float("nan")) is None
    assert canon_value(Decimal("1.50")) == 1.5
    assert canon_value(np.int64(3)) == 3
    assert canon_value(np.array([1.0, 2.0])) == (1.0, 2.0)
    assert canon_value([1, [2, 3]]) == (1, (2, 3))
    assert canon_value(date(2024, 1, 7)) == datetime(2024, 1, 7)
    aware = datetime(2024, 1, 7, 1, 0, tzinfo=timezone.utc)
    assert canon_value(aware) == datetime(2024, 1, 7, 1, 0)


def test_same_result_ignores_row_and_column_order():
    got = [{"a": 2, "b": "y"}, {"a": 1, "b": "x"}]
    want = [("x", 1), ("y", 2)]
    assert same_result(["a", "b"], got, ["b", "a"], want) is None


def test_same_result_reports_differences():
    assert "row count" in same_result(["a"], [{"a": 1}], ["a"], [])
    assert "columns" in same_result(["a"], [{"a": 1}], ["b"], [(1,)])
    assert "row 0 [a]" in same_result(["a"], [{"a": 1}], ["a"], [(2,)])
    # NULL and NaN compare equal, as in pandas
    assert same_result(["a"], [{"a": None}], ["a"], [(float("nan"),)]) is None
