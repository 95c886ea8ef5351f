"""Streaming surface: windowed operators (batch mode) + a real
Structured Streaming run of the incremental load over a landing dir,
asserting the reference's idempotency contract end-to-end."""

from __future__ import annotations

import datetime as dt

import pytest

from local_etl_csv_to_postgresql_spark.config import EngineConfig, WarehouseConfig
from local_etl_csv_to_postgresql_spark.streaming import (
    session_summary,
    start_incremental_load,
    tumbling_rollup,
)
from local_etl_csv_to_postgresql_spark.warehouse import Warehouse


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime.fromisoformat(ts), uid, et, v, "{}")
         for i, (ts, uid, et, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )


def test_tumbling_rollup_batch(spark):
    ev = _events(spark, [
        ("2024-01-01T10:05:00", 1, "click", 1.0),
        ("2024-01-01T10:55:00", 1, "click", 2.0),
        ("2024-01-01T11:05:00", 2, "view", 3.0),
    ])
    out = {(r["window_start"].hour, r["event_type"]): r["event_count"]
           for r in tumbling_rollup(ev, "1 hour", watermark=None).collect()}
    assert out == {(10, "click"): 2, (11, "view"): 1}


def test_session_summary_gap_semantics(spark):
    # a gap of exactly 30 min merges (inclusive); > 30 min starts a new
    # session — pins Spark's session_window boundary rule, which the
    # DuckDB oracle twin mirrors with `> gap`
    ev = _events(spark, [
        ("2024-01-01T10:00:00", 1, "click", 1.0),
        ("2024-01-01T10:29:00", 1, "click", 1.0),   # same session
        ("2024-01-01T10:59:00", 1, "click", 1.0),   # exactly 30 min -> merges
        ("2024-01-01T11:29:01", 1, "click", 1.0),   # 30 min 1 s -> new
        ("2024-01-01T12:00:00", 2, "click", 1.0),
    ])
    rows = {r["user_id"]: r for r in session_summary(ev, "30 minutes").collect()}
    assert rows[1]["session_count"] == 2
    assert rows[1]["event_count"] == 4
    assert rows[1]["max_session_events"] == 3
    assert rows[2]["session_count"] == 1


CSV_HEADER = "transaction_id,date,category,amount,merchant,payment_method,user_id\n"


def _write_csv(path, rows):
    path.write_text(CSV_HEADER + "".join(r + "\n" for r in rows))


@pytest.mark.slow
def test_streaming_incremental_load(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    cfg = EngineConfig(warehouse=WarehouseConfig(path=str(tmp_path / "wh")))
    wh = Warehouse(spark, cfg.warehouse)

    _write_csv(landing / "batch1.csv", [
        "t1,2023-06-15,Groceries,100.50,Store A,Credit Card,1",
        "t2,2023-06-16,Dining,55.25,Cafe B,Cash,2",
    ])
    q = start_incremental_load(
        spark, str(landing), str(tmp_path / "ckpt"), cfg, warehouse=wh
    )
    q.awaitTermination(120)
    assert wh.read("fact_transactions").count() == 2

    # second file overlaps t2: only t3 is new (idempotent append,
    # reference src/load.py:585-696 semantics, now via the stream)
    _write_csv(landing / "batch2.csv", [
        "t2,2023-06-16,Dining,55.25,Cafe B,Cash,2",
        "t3,2023-06-17,Transportation,12.00,Metro C,Debit Card,3",
    ])
    q2 = start_incremental_load(
        spark, str(landing), str(tmp_path / "ckpt"), cfg, warehouse=wh
    )
    q2.awaitTermination(120)
    fact = wh.read("fact_transactions")
    assert fact.count() == 3
    assert fact.select("transaction_id").distinct().count() == 3
    # dims stayed deduplicated too
    assert wh.read("dim_category").count() == 3


@pytest.mark.slow
def test_stateful_sessionizer_cross_batch(spark, tmp_path):
    """State must carry across micro-batches: session opened in batch 1
    is closed by batch 2's far-future event; the timeout path closes
    batch 2's own session when the final watermark passes it."""
    import os

    from local_etl_csv_to_postgresql_spark.streaming.stateful import replay_sessions

    data_dir = tmp_path / "events"
    ev1 = _events(spark, [
        ("2024-01-01T10:00:00", 1, "click", 1.0),
        ("2024-01-01T10:10:00", 1, "click", 1.0),
    ])
    ev2 = _events(spark, [
        ("2024-01-01T15:00:00", 1, "click", 1.0),   # closes the 10:00 session
        ("2024-01-02T09:00:00", 2, "view", 1.0),    # advances final watermark
    ])
    # stage each micro-batch as a flat parquet file in one directory
    import glob
    import shutil

    data_dir.mkdir()
    for name, df in (("f1", ev1), ("f2", ev2)):
        scratch = tmp_path / f"scratch_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(scratch))
        part = glob.glob(str(scratch / "part-*.parquet"))[0]
        shutil.move(part, str(data_dir / f"{name}.parquet"))
    # file source orders by mtime: make f1 strictly older
    os.utime(data_dir / "f1.parquet", (0, 0))

    out = replay_sessions(
        spark, str(data_dir), gap_seconds=1800, max_files_per_trigger=1
    )
    rows = sorted(
        ((r["user_id"], r["session_start"].isoformat(), r["event_count"])
         for r in out.collect())
    )
    # user 1: [10:00,10:10] closed by 15:00 event; [15:00] closed by the
    # final watermark (09:00 next day). user 2's session stays open.
    assert rows == [
        (1, "2024-01-01T10:00:00", 2),
        (1, "2024-01-01T15:00:00", 1),
    ]


@pytest.mark.slow
def test_windowed_rollup_stream_to_parquet(spark, tmp_path):
    """Append-mode windowed aggregation over a file stream: only
    watermark-closed windows land in the parquet sink."""
    from local_etl_csv_to_postgresql_spark.streaming.incremental import (
        start_windowed_rollup_stream,
    )

    ev = _events(spark, [
        ("2024-01-01T10:05:00", 1, "click", 1.0),
        ("2024-01-01T10:40:00", 1, "click", 2.0),
        ("2024-01-01T14:00:00", 2, "view", 3.0),   # watermark -> 12:00
    ])
    src = tmp_path / "src"
    ev.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(ev.schema).parquet(str(src))
    q = start_windowed_rollup_stream(
        spark, stream, str(tmp_path / "ckpt"), str(tmp_path / "out"),
        duration="1 hour", watermark="2 hours",
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    rows = {(r["window_start"].hour, r["event_type"]): (r["event_count"], r["total_value"])
            for r in out.collect()}
    # the 10:00 window closed (watermark 14:00 - 2h = 12:00 > 11:00);
    # the 14:00 window is still open and must NOT be emitted
    assert rows == {(10, "click"): (2, 3.0)}


@pytest.mark.slow
def test_stream_dedup_exactly_once(spark, tmp_path):
    """Double-delivered input through streaming dropDuplicates emits
    each key exactly once."""
    import glob
    import shutil

    from local_etl_csv_to_postgresql_spark.streaming.stateful import replay_dedup

    ev = _events(spark, [
        ("2024-01-01T10:00:00", 1, "click", 1.0),
        ("2024-01-01T11:00:00", 2, "view", 2.0),
        ("2024-01-01T12:00:00", 3, "click", 3.0),
    ])
    scratch = tmp_path / "scratch"
    ev.coalesce(1).write.parquet(str(scratch))
    part = glob.glob(str(scratch / "part-*.parquet"))[0]
    src = tmp_path / "events.parquet"
    shutil.move(part, str(src))

    out = replay_dedup(spark, str(src), dedup_cols=["event_id"])
    rows = sorted(r["event_id"] for r in out.collect())
    assert rows == [0, 1, 2]  # each exactly once despite double delivery


def test_quota_replay_admits_first_n_per_user(spark, tmp_path):
    """Real streaming run: each user's first n_max events by (ts,
    event_id) are admitted, later ones dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from local_etl_csv_to_postgresql_spark.streaming.stateful import (
        replay_quota,
    )

    rows = [
        # user 1: 5 events, quota 3 -> first three by ts admitted
        (1, "2024-01-01T10:00:00", 1), (2, "2024-01-01T10:01:00", 1),
        (3, "2024-01-01T10:02:00", 1), (4, "2024-01-01T10:03:00", 1),
        (5, "2024-01-01T10:04:00", 1),
        # user 2: 2 events, under quota -> all admitted
        (6, "2024-01-01T11:00:00", 2), (7, "2024-01-01T11:30:00", 2),
        # user 3: tie on ts -> event_id breaks it
        (9, "2024-01-01T12:00:00", 3), (8, "2024-01-01T12:00:00", 3),
        (10, "2024-01-01T12:00:00", 3), (11, "2024-01-01T12:05:00", 3),
    ]
    table = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([dt.datetime.fromisoformat(r[1]) for r in rows]),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
    })
    path = tmp_path / "events.parquet"
    pq.write_table(table, path)
    out = replay_quota(spark, str(path), n_max=3)
    got = {
        u: sorted(r["event_id"] for r in rows_)
        for u, rows_ in __import__("itertools").groupby(
            sorted(out.collect(), key=lambda r: r["user_id"]),
            key=lambda r: r["user_id"],
        )
    }
    assert got == {1: [1, 2, 3], 2: [6, 7], 3: [8, 9, 10]}


def test_failed_replay_restores_the_session_conf(spark, tmp_path):
    """A replay whose input lacks a column it selects raises, and the
    caller's shuffle partitions are what they were before the call."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from local_etl_csv_to_postgresql_spark.streaming.stateful import (
        replay_sessions,
    )

    path = tmp_path / "no_user.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([dt.datetime(2024, 1, 1, 10)])}), path
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(AnalysisException):
        replay_sessions(spark, str(path))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_replay_runner_restores_set_confs_and_unsets_absent_ones(
    spark, tmp_path
):
    """The runner sets the replay partitions and any extra conf for the
    run only: a conf that was set gets its value back, one that was
    absent is unset again."""
    from local_etl_csv_to_postgresql_spark.streaming import stateful as st

    src = tmp_path / "src"
    spark.range(5).write.parquet(str(src))
    stream = spark.readStream.schema("id long").parquet(str(src))
    key = "spark.graft.test.replayOnly"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert spark.conf.get(key, None) is None
    out, q = st._to_memory(spark, stream, "append", {key: "on"})
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3, 4]
    assert q.exception() is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get(key, None) is None


def test_quota_fn_carries_state_across_batches():
    """The pandas kernel itself: admission counts persist across
    micro-batches (batch 2 only gets the remaining room)."""
    import pandas as pd

    from local_etl_csv_to_postgresql_spark.streaming.stateful import _quota_fn

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False
        @property
        def exists(self):
            return self._v is not None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v = tuple(v)

    fn = _quota_fn(3)
    state = FakeState()
    b1 = pd.DataFrame({
        "user_id": [7, 7], "event_id": [1, 2],
        "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:01:00"]),
    })
    out1 = pd.concat(list(fn((7,), iter([b1]), state)))
    assert list(out1["event_id"]) == [1, 2] and state.get == (2,)
    b2 = pd.DataFrame({
        "user_id": [7, 7, 7], "event_id": [3, 4, 5],
        "ts": pd.to_datetime([
            "2024-01-01 00:02:00", "2024-01-01 00:03:00", "2024-01-01 00:04:00",
        ]),
    })
    out2 = pd.concat(list(fn((7,), iter([b2]), state)))
    assert list(out2["event_id"]) == [3]  # only the remaining room
    assert state.get == (3,)
    assert list(fn((7,), iter([b2]), state)) == []  # quota exhausted


@pytest.mark.slow
def test_session_window_replay_boundary(spark, tmp_path):
    """Pin replay_session_window's two boundary rules against a
    synthetic stream: (1) a gap of EXACTLY the threshold MERGES into
    the same session (Spark's session_window is boundary-inclusive),
    and (2) only sessions whose end is strictly before the final
    watermark (max ts - delay) are emitted."""
    import pandas as pd

    from local_etl_csv_to_postgresql_spark.streaming.stateful import (
        replay_session_window,
    )

    rows = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "event_id": [10, 11, 12, 20],
            "event_type": ["view"] * 4,
            "value": [1.0] * 4,
            "props": ["{}"] * 4,
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00",  # u1 s1
                    "2024-01-01 00:30:00",  # exactly 30min later: MERGES
                    "2024-01-01 00:40:00",  # still the same session
                    "2024-01-01 03:00:00",  # u2: far later; drives watermark
                ]
            ),
        }
    )
    path = str(tmp_path / "events.parquet")
    spark.createDataFrame(rows).coalesce(1).write.parquet(path)
    out = {
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in replay_session_window(spark, path).collect()
    }
    # watermark = 03:00 - 30min = 02:30; u1's single merged session
    # ends 01:10 -> sealed and emitted; u2's ends 03:30 -> unsealed.
    assert out == {
        (1, "2024-01-01 00:00:00", "2024-01-01 01:10:00", 3),
    }
