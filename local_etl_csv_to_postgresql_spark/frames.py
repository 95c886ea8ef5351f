"""Frames opened or built on the driver without a Spark job.

Two costs a query used to pay before doing any of its own work:

- ``spark.read.parquet(path)`` infers the schema by starting a job that
  reads one parquet footer. ``parquet_schema`` reads that same footer
  on the driver with pyarrow and maps it to the schema Spark infers, so
  ``read_parquet`` opens the table with no job.
- ``spark.createDataFrame(<python list>, schema)`` plans as a
  ``LogicalRDD`` over ``sc.parallelize``, so every plan that reads it
  runs a Python-worker job. ``local_frame`` hands the same rows to
  Spark as an Arrow table, which plans as a ``LocalRelation``:
  collecting it starts no job.

It also holds the package's one temp-dir rule, ``staging_dir``.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import DataType, StructType

#: footer key under which Spark stores the schema of a file it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    # Spark's listing filter: '_x' (not a 'k=v' partition) and '.x'
    return (name.startswith("_") and "=" not in name) or name.startswith(".")


def _footer_file(path: str) -> str | None:
    """The file whose footer Spark infers a schema from with
    ``mergeSchema`` off: the first data file in path order (None when
    there is none)."""
    if not os.path.isdir(path):
        return path
    data = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        data += [os.path.join(root, f) for f in files if not _hidden(f)]
    return min(data, default=None)


def _footer_schema(meta: pq.FileMetaData) -> StructType:
    stored = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        return StructType.fromJson(json.loads(stored))
    physical = {
        meta.schema.column(i).path: meta.schema.column(i).physical_type
        for i in range(meta.num_columns)
    }
    arrow = meta.schema.to_arrow_schema()
    for i, field in enumerate(arrow):
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            # INT96 is Spark's legacy TIMESTAMP; INT64 TIMESTAMP(NANOS)
            # reads as its raw long under ``nanosAsLong``
            t = (
                pa.timestamp("us", tz="UTC")
                if physical.get(field.name) == "INT96"
                else pa.int64()
            )
            arrow = arrow.set(i, field.with_type(t))
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read from the
    footer on the driver (no job). Spark-written files carry their
    Spark schema in the footer and it is used as is; other files map
    through Arrow the way Spark's converter maps them (TIMESTAMP with
    UTC adjustment → timestamp, without → timestamp_ntz, INT64 NANOS →
    bigint as under ``spark.sql.legacy.parquet.nanosAsLong``). A path
    with no local data file falls back to Spark's own inference, so
    its error (or its remote listing) is unchanged."""
    footer = _footer_file(path) if os.path.exists(path) else None
    if footer is None:
        return spark.read.parquet(path).schema
    return _footer_schema(pq.read_metadata(footer))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema read from
    the footer on the driver: same frame, no schema-inference job."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def local_frame(
    spark: SparkSession,
    rows: Iterable,
    schema: StructType | str,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for rows held on the
    driver, planned as a ``LocalRelation`` instead of a parallelized
    RDD. Each value goes through the declared type's ``toInternal``
    first, as the list path does, so a naive ``datetime`` in a
    timestamp column is read in the process ``TZ`` (not the session
    time zone Arrow would localize it to)."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    internal = [schema.toInternal(r) for r in rows]
    arrow = to_arrow_schema(schema)
    columns = zip(*internal) if internal else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def staging_dir(prefix: str) -> str:
    """A fresh temp dir that is removed when the process exits: every
    materialized intermediate, replay stage, sink and checkpoint dir
    of the package is made here. ``rmtree`` ignores errors, so an
    explicit earlier cleanup (``reset_shared_intermediates``) makes the
    exit hook a no-op; a process that never calls that cleanup — a
    targeted pytest run — still leaves nothing behind."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
