"""Shared fixtures: one session-scoped SparkSession + the canonical
small inputs mirrored from the reference's conftest (valid/dirty/
invalid transaction frames — reference tests/conftest.py:35-231)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from local_etl_csv_to_postgresql_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


COLUMNS = [
    "transaction_id", "date", "category", "amount",
    "merchant", "payment_method", "user_id",
]


def rows_to_df(spark, rows):
    return spark.createDataFrame([tuple(r) for r in rows], COLUMNS)


def cache_is_empty(spark) -> bool:
    """True when the session holds no persisted frame."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def valid_rows():
    return [
        ["t1", "2023-06-15", "Groceries", "100.50", "Store A", "Credit Card", "1"],
        ["t2", "2023-06-16", "Dining", "55.25", "Cafe B", "Cash", "2"],
        ["t3", "2023-06-17", "Transportation", "12.00", "Metro C", "Debit Card", "3"],
    ]


@pytest.fixture
def dirty_rows():
    # duplicate id + case/whitespace noise (reference conftest dirty_transform_data)
    return [
        ["t1", "2023-06-15", " groceries ", "100.50", "  store   a ", "credit card", "1"],
        ["t1", "2023-06-15", "Groceries", "999.99", "Store A", "Credit Card", "1"],
        ["t2", "2023-06-16", "DINING", "55.25", "o'brien-cafe", "CASH", "2"],
    ]


@pytest.fixture
def invalid_rows():
    return [
        ["t1", "2030-01-01", "Groceries", "10.00", "M", "Cash", "1"],   # future date
        ["t2", "2019-12-31", "Groceries", "10.00", "M", "Cash", "1"],   # too old
        ["t3", "2023-06-15", "NotACat", "10.00", "M", "Cash", "1"],     # bad category
        ["t4", "2023-06-15", "Groceries", "-5.00", "M", "Cash", "1"],   # negative
        ["t5", "2023-06-15", "Groceries", "0", "M", "Cash", "1"],       # zero
        ["t6", "2023-06-15", "Groceries", "15000.00", "M", "Cash", "1"],  # > max
        ["t7", "2023-06-15", "Groceries", "abc", "M", "Cash", "1"],     # non-numeric
        ["t8", "2023-06-15", "Groceries", "10.00", "M", "Bitcoin", "1"],  # bad payment
        ["t9", "2023-06-15", "Groceries", "10.00", "M", "Cash", "x"],   # bad user
        ["t10", None, "Groceries", "10.00", "M", "Cash", "1"],          # null date
        ["ok", "2023-06-15", "Groceries", "10.00", "M", "Cash", "1"],   # valid
    ]
