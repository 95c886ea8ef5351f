"""Driver-side frames (``frames.py``): tables open with the schema Spark
would infer but start no job, and driver-held rows become a
``LocalRelation`` that returns exactly what ``createDataFrame(list)``
returns."""

from __future__ import annotations

import datetime as dt
import decimal
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from local_etl_csv_to_postgresql_spark.frames import local_frame, parquet_schema
from local_etl_csv_to_postgresql_spark.plans.analytics import TABLES, load

from test_plans import SF

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIRS = [
    SF,
    os.path.join(os.path.dirname(SF), "sf0.01"),
    os.path.join(HERE, "perfbench", "data", "sf0.01"),
]


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def inferred_load(spark, sf_dir, name):
    """``load`` as it read tables before: ``spark.read.parquet``
    inference, then the same ``events.ts`` normalization."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        dtype = dict(df.dtypes).get("ts")
        if dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@pytest.mark.skipif(not os.path.isdir(SF_DIRS[0]), reason="no testdata")
def test_load_starts_no_job(spark):
    before = _jobs(spark)
    for t in TABLES:
        load(spark, SF_DIRS[0], t)
    assert _jobs(spark) - before == 0


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_load_schema_equals_inferred(spark, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    for t in TABLES:
        got = load(spark, sf_dir, t).schema
        assert got == inferred_load(spark, sf_dir, t).schema, t


@pytest.mark.skipif(not os.path.isdir(SF_DIRS[0]), reason="no testdata")
def test_spark_written_table_schema_equals_inferred(spark, tmp_path):
    """A directory of Spark part files (plus ``_SUCCESS``), with and
    without partition directories: the footer gives the data columns
    and Spark still discovers the partition column."""
    ev = spark.read.parquet(f"{SF_DIRS[0]}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.repartition(3).write.parquet(str(tmp_path / "events.parquet"))
    got = load(spark, str(tmp_path), "events")
    assert got.schema == inferred_load(spark, str(tmp_path), "events").schema
    assert got.count() == ev.count()

    part = str(tmp_path / "by_type")
    ev.write.partitionBy("event_type").parquet(part)
    before = _jobs(spark)
    opened = spark.read.schema(parquet_schema(spark, part)).parquet(part)
    assert _jobs(spark) - before == 0
    assert opened.schema == spark.read.parquet(part).schema


def test_missing_path_fails_as_inference_does(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        parquet_schema(spark, str(tmp_path / "nope.parquet"))


# -- local_frame ------------------------------------------------------------

#: the column types the driver-held frames use: verify_schema's report,
#: ap01/mix01/rs02 panels (double), ss09 (int/bigint/double), ij01
#: (strings), Lloyd/PQ centroids (array<double>), st13's sentinels
#: (events' bigint/string/timestamp), row-number offsets (non-nullable
#: ints and longs beside a partition key)
CASES = {
    "ddl_strings": (
        "check_type string, table_name string, status string, detail string",
        [("row_count", "dim_date", "pass", "1 rows"), ("x", None, "fail", "")],
    ),
    "ddl_numbers": (
        "round int, center_id bigint, coverage_radius double",
        [(0, 7, 1.5), (1, 2**40, float("nan")), (2, -1, None)],
    ),
    "centroids": (
        StructType(
            [
                StructField("__m", IntegerType()),
                StructField("__cid", LongType()),
                StructField("__cvec", ArrayType(DoubleType())),
            ]
        ),
        [(0, 3, [0.1, -2.5, 1e-300]), (1, 4, []), (1, 5, [None, 2.0])],
    ),
    "offsets": (
        StructType(
            [
                StructField("__pid", IntegerType(), False),
                StructField("lang", StringType(), True),
                StructField("__off", LongType(), False),
            ]
        ),
        [(0, "en", 0), (1, None, 12)],
    ),
    "sentinels": (
        "event_id bigint, user_id bigint, event_type string, ts timestamp",
        [
            (-1, -1, "view", dt.datetime(2024, 3, 10, 2, 30, 0, 7)),
            (-2, -2, "click", dt.datetime(2024, 11, 3, 1, 30)),
            (-3, -3, "view", dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)),
        ],
    ),
    "other_types": (
        "d date, n decimal(18,2), b boolean, t timestamp_ntz",
        [(dt.date(1995, 6, 1), decimal.Decimal("1.25"), True,
          dt.datetime(2024, 1, 1, 1))],
    ),
    "empty": ("p double, exact_value double", []),
}


@pytest.fixture(params=["UTC", "America/New_York"])
def process_tz(request, monkeypatch):
    monkeypatch.setenv("TZ", request.param)
    time.tzset()
    yield request.param
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_frame(spark, case, process_tz):
    schema, rows = CASES[case]
    got = local_frame(spark, rows, schema)
    assert "LocalRelation" in got._jdf.queryExecution().analyzed().toString()
    before = _jobs(spark)
    collected = got.collect()
    assert _jobs(spark) - before == 0
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    # repr: NaN != NaN would fail a plain equality
    assert repr(collected) == repr(want.collect())
    if "ts" in got.columns:  # the instant, not just its local rendering
        epoch = F.col("ts").cast("long")
        assert got.select(epoch).collect() == want.select(epoch).collect()
