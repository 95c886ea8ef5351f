"""Transform orchestration: keep-first dedup, golden date attributes,
dimension structure, end-to-end contract
(reference tests/test_transform.py:117-201, 410-617, 678-827)."""

from __future__ import annotations

from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from local_etl_csv_to_postgresql_spark.config import ValidationConfig
from local_etl_csv_to_postgresql_spark.operators.dates import (
    build_dim_date,
    with_date_attributes,
)
from local_etl_csv_to_postgresql_spark.operators.dedup import keep_first_dedup
from local_etl_csv_to_postgresql_spark.operators.transform import (
    TransformError,
    transform_transactions,
)
from tests.conftest import rows_to_df

CFG = ValidationConfig(max_valid_ts=datetime(2024, 1, 1))


def test_keep_first_dedup_keeps_first_row(spark, dirty_rows):
    df = rows_to_df(spark, dirty_rows)
    out = keep_first_dedup(df, ["transaction_id"])
    t1 = out.filter("transaction_id = 't1'").first()
    assert t1["amount"] == "100.50"  # the FIRST t1, not the 999.99 one
    assert out.count() == 2


def test_keep_first_dedup_agg_strategy(spark, dirty_rows):
    df = rows_to_df(spark, dirty_rows)
    out = keep_first_dedup(df, ["transaction_id"], agg_strategy=True)
    assert out.count() == 2
    assert out.filter("transaction_id = 't1'").first()["amount"] == "100.50"


def test_golden_date_attributes(spark):
    # reference golden values: 2023-06-15 (tests/test_transform.py:410-509)
    df = spark.createDataFrame([(date(2023, 6, 15),)], "date date")
    row = with_date_attributes(df, "date").first()
    assert row["date_key"] == 20230615
    assert row["year"] == 2023
    assert row["quarter"] == 2
    assert row["month"] == 6
    assert row["month_name"] == "June"
    assert row["day"] == 15
    assert row["day_of_week"] == 4  # ISO Thursday
    assert row["day_name"] == "Thursday"
    assert row["week_of_year"] == 24
    assert row["is_weekend"] is False


@pytest.mark.parametrize(
    "d,weekend", [(date(2023, 6, 17), True), (date(2023, 6, 18), True), (date(2023, 6, 19), False)]
)
def test_weekend_flags(spark, d, weekend):
    df = spark.createDataFrame([(d,)], "date date")
    assert with_date_attributes(df, "date").first()["is_weekend"] is weekend


def test_dim_date_seed_range(spark):
    dim = build_dim_date(spark, date(2022, 1, 1), date(2022, 1, 31))
    rows = dim.orderBy("date_key").collect()
    assert len(rows) == 31
    assert rows[0]["date_key"] == 20220101 and rows[-1]["date_key"] == 20220131


def test_transform_end_to_end(spark, dirty_rows):
    res = transform_transactions(rows_to_df(spark, dirty_rows), CFG)
    assert res.input_rows == 3
    assert res.deduped_rows == 2
    assert res.valid_rows == 2
    t = res.tables
    # natural keys only: surrogate keys are assigned at load time
    cats = sorted(r["category_name"] for r in t["dim_category"].collect())
    assert cats == ["Dining", "Groceries"]  # standardized
    merchants = sorted(r["merchant_name"] for r in t["dim_merchant"].collect())
    assert merchants == ["O'Brien-Cafe", "Store A"]  # title()-exact
    fact = t["fact_data"].orderBy("transaction_id").collect()
    assert [r["date_key"] for r in fact] == [20230615, 20230616]
    assert str(fact[0]["amount"]) == "100.50"  # decimal(10,2)


def test_transform_rejects_empty_and_none(spark):
    with pytest.raises(TransformError):
        transform_transactions(None, CFG)
    empty = spark.createDataFrame([], "transaction_id string, date string, category string, amount string, merchant string, payment_method string, user_id string")
    with pytest.raises(TransformError):
        transform_transactions(empty, CFG)


def test_input_not_mutated(spark, dirty_rows):
    df = rows_to_df(spark, dirty_rows)
    before = df.collect()
    transform_transactions(df, CFG)
    assert df.collect() == before
