"""Event-time layout regression: the driver's events.parquet has
shipped as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS, isAdjustedToUTC=
false) (Spark 4 → TIMESTAMP_NTZ) across rounds. Every load boundary
must normalize all layouts to session-tz TIMESTAMP and produce
IDENTICAL downstream results — the round-1 regression broke five
queries at analysis time when NTZ slipped through."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from local_etl_csv_to_postgresql_spark.operators.temporal import (
    asof_join,
    epoch_seconds,
    range_join_count,
)
from local_etl_csv_to_postgresql_spark.plans.analytics import load

ROWS = [
    (1, "2024-01-01T00:00:05", 1, "click"),
    (2, "2024-01-01T00:10:00", 1, "purchase"),
    (3, "2024-01-01T01:00:00", 1, "click"),
    (4, "2024-01-01T00:00:59", 2, "error"),
    (5, "2024-01-01T00:01:30", 2, "view"),
]


def _write(tmp_path, name, ts_type, version):
    times = [dt.datetime.fromisoformat(t) for _, t, _, _ in ROWS]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
            "ts": pa.array(times).cast(ts_type),
            "user_id": pa.array([r[2] for r in ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in ROWS], pa.string()),
        }
    )
    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        table, d / "events.parquet", version=version, coerce_timestamps=None
    )
    return str(d)


LAYOUTS = [
    ("ntz_micros", pa.timestamp("us"), "2.4"),
    ("ltz_micros", pa.timestamp("us", tz="UTC"), "2.4"),
    ("nanos", pa.timestamp("ns"), "2.6"),
]


@pytest.fixture(scope="module")
def layout_dirs(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("ts_layouts")
    return {name: _write(tmp, name, t, v) for name, t, v in LAYOUTS}


def test_parquet_layouts_differ_physically(layout_dirs):
    """Guard the fixture itself: the three files must really carry
    distinct physical timestamp types, or the test proves nothing."""
    types = {
        name: str(pq.read_schema(f"{d}/events.parquet").field("ts").type)
        for name, d in layout_dirs.items()
    }
    assert types == {
        "ntz_micros": "timestamp[us]",
        "ltz_micros": "timestamp[us, tz=UTC]",
        "nanos": "timestamp[ns]",
    }


def test_load_normalizes_every_layout_to_timestamp(spark, layout_dirs):
    results = {}
    for name, d in layout_dirs.items():
        df = load(spark, d, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", name
        results[name] = sorted(
            (r["event_id"], r["ts"].isoformat()) for r in df.collect()
        )
    assert results["ntz_micros"] == results["ltz_micros"] == results["nanos"]


def test_load_schema_equals_inferred_for_every_layout(spark, layout_dirs):
    """The footer-derived schema is the one inference gives for each
    physical layout, and opening the table starts no job."""
    from test_frames import _jobs, inferred_load

    for name, d in layout_dirs.items():
        before = _jobs(spark)
        got = load(spark, d, "events")
        assert _jobs(spark) - before == 0, name
        assert got.schema == inferred_load(spark, d, "events").schema, name


def test_epoch_math_identical_across_layouts(spark, layout_dirs):
    import pyspark.sql.functions as F

    per_layout = {}
    for name, d in layout_dirs.items():
        df = load(spark, d, "events")
        per_layout[name] = sorted(
            (r["event_id"], r["e"])
            for r in df.select("event_id", epoch_seconds("ts").alias("e")).collect()
        )
        # and the raw bigint cast the session queries use post-load
        assert (
            df.select(F.col("ts").cast("long")).collect() is not None
        ), name
    assert per_layout["ntz_micros"] == per_layout["nanos"]
    assert per_layout["ntz_micros"][0] == (1, 1704067205)  # known epoch


def test_temporal_operators_accept_ntz_frames_directly(spark):
    """asof_join / range_join_count must analyze even when handed raw
    NTZ columns (a caller that skipped load())."""
    mk = lambda ddl, rows: spark.createDataFrame(rows, ddl)  # noqa: E731
    left = mk(
        "id long, k long, ts timestamp_ntz",
        [(1, 10, dt.datetime(2024, 1, 1, 0, 5))],
    )
    right = mk(
        "rid long, k long, ts timestamp_ntz",
        [(100, 10, dt.datetime(2024, 1, 1, 0, 1))],
    )
    out = asof_join(
        left, right, on=["k"], right_cols=["rid"], tiebreak="rid",
        tolerance_seconds=3600,
    ).collect()
    assert [r["asof_rid"] for r in out] == [100]

    counted, _ = range_join_count(
        points=right.select("k", "ts"),
        anchors=left.select("id", "k", "ts"),
        on=["k"],
        point_ts="ts",
        anchor_ts="ts",
        lower_seconds=-600,
        upper_seconds=0,
    )
    assert [r["n_in_range"] for r in counted.collect()] == [1]


def test_stateful_replay_identical_across_layouts(spark, layout_dirs):
    from local_etl_csv_to_postgresql_spark.streaming.stateful import (
        replay_sessions,
    )

    per_layout = {}
    for name, d in layout_dirs.items():
        out = replay_sessions(
            spark, f"{d}/events.parquet", gap_seconds=600.0
        )
        per_layout[name] = sorted(
            (r["user_id"], r["session_start"].isoformat(), r["event_count"])
            for r in out.collect()
        )
    assert per_layout["ntz_micros"] == per_layout["ltz_micros"] == per_layout["nanos"]
    # user 1: session {00:00:05, 00:10:00} closes at the 01:00 event;
    # user 2's single session closes via watermark timeout
    assert (1, "2024-01-01T00:00:05", 2) in per_layout["ntz_micros"]
