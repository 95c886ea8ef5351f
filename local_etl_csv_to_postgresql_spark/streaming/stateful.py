"""Custom stateful streaming operator: hand-rolled sessionization via
``applyInPandasWithState``.

``F.session_window`` (windows.py) covers windowed session *aggregates*;
this operator demonstrates the general custom-state surface the
reference has no counterpart for (SURVEY §2.10: UDAF/stateful — none):
per-key state that survives across micro-batches, event-time timeouts,
and arbitrary per-session payloads (here: start/end/count, but the same
skeleton carries any accumulator a training-data pipeline needs —
per-source quota counters, dedup bloom state, rate limits).

Semantics: a session is a maximal run of a user's events where
consecutive gaps are <= ``gap_seconds``. A session is EMITTED when it
closes — either a later event arrives beyond the gap (in-batch or
cross-batch), or the event-time watermark passes last_event + gap
(timeout path). A user's final session emits only via timeout, so a
bounded replay emits every session except each user's still-open last
one — which makes the batch-replay result deterministic and
oracle-checkable (streaming/queries.py st03).

Scale notes: state is per user_id group, partitioned by the stream's
groupBy shuffle; each group's rows arrive as Arrow batches. State size
is O(1) per active user (three scalars), so 10^9 users is ~GBs of state
across a cluster — the state store, not the driver, holds it.
"""

from __future__ import annotations

import os
import time
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..frames import local_frame, parquet_schema, read_parquet, staging_dir

#: shuffle partitions every replay runs with: each shuffle partition
#: carries a state-store instance whose per-batch open/commit cost
#: dwarfs the work at local scale (32 partitions: ~15s, 8: ~6s on 100k
#: events)
REPLAY_SHUFFLE_PARTITIONS = 8


def _await_or_raise(q, timeout_sec: int = 300) -> None:
    """availableNow replays terminate on their own; a False return from
    awaitTermination means the cap elapsed with the query still running
    and the memory sink holding a PARTIAL replay. Raising beats
    returning that as if clean (r5 advice)."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise RuntimeError(
            f"streaming replay did not terminate within {timeout_sec}s; "
            "memory-sink table would be partial"
        )


def _run_replay(spark, writer, conf: dict[str, str] | None = None):
    """THE bounded-replay protocol: start ``writer`` (a configured
    ``DataStreamWriter``) as an availableNow query under
    ``REPLAY_SHUFFLE_PARTITIONS`` plus any extra ``conf`` entries, wait
    for it or raise, and return the terminated query. Every conf it
    set is restored in one ``finally`` (unset if it was absent), so a
    replay that fails, at start or mid-run, leaves the caller's
    session as it found it."""
    conf = {
        "spark.sql.shuffle.partitions": str(REPLAY_SHUFFLE_PARTITIONS),
        **(conf or {}),
    }
    before = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        q = writer.trigger(availableNow=True).start()
        _await_or_raise(q)
        return q
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _to_memory(spark, frame: DataFrame, mode: str, conf=None):
    """Replay the streaming ``frame`` into a fresh memory-sink table in
    output ``mode``; returns ``(spark.table(name), query)`` — the
    query's progress is what the watermark replays read their drop
    counts from."""
    name = f"replay_{uuid.uuid4().hex[:8]}"
    writer = frame.writeStream.format("memory").queryName(name).outputMode(mode)
    q = _run_replay(spark, writer, conf)
    return spark.table(name), q


def _watermark_drops(q) -> int:
    """Rows the watermark's late filter dropped over the whole replay
    (``numRowsDroppedByWatermark`` summed over every batch's state
    operators) — exposed so tests can pin that the filter actually
    fired, not just that the output matched."""
    return sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p.get("stateOperators", [])
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, event_count long"
)
# state: epoch MICROSECONDS as int64 (exact — float seconds would lose
# sub-microsecond precision and fail Arrow's safe timestamp cast)
STATE_SCHEMA = "start long, last long, count long"


def _normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-tz TIMESTAMP, whatever
    the parquet layout delivered: nanos-as-long (legacy TIMESTAMP(NANOS)
    read mode) or TIMESTAMP_NTZ (Spark 4's inference for micros with
    isAdjustedToUTC=false, which ``withWatermark`` rejects with
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Same policy as
    plans.analytics.load; the session runs UTC so values match DuckDB.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # integer div (`div`), not double FLOOR — exact at epoch-ns scale
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# staged replay inputs — symlink dirs, mtime-ordered batch files,
# multi-file splits — keyed "<kind>::<source path>". Each is a pure
# function of its source, so it is built once per process and lives
# as long as the process (staging_dir's atexit removes it; the bench's
# reset_shared_intermediates does not): repeated replays (bench
# best-of-2, the st-family sharing one events file) skip the rebuild
_REPLAY_STAGE_CACHE: dict[str, tuple] = {}


def _staged(key: str, build):
    """``(schema, dir)`` of the staged input ``key``: on a miss,
    ``build(dir)`` writes the stage's files into a fresh staging dir
    and returns the batch schema the stream reads them with."""
    hit = _REPLAY_STAGE_CACHE.get(key)
    if hit is None:
        stage = staging_dir("replay_stage_")
        hit = _REPLAY_STAGE_CACHE[key] = (build(stage), stage)
    return hit


def _schema_and_stage(spark, parquet_path: str):
    """(schema, streamable_dir) for a parquet source. The file-stream
    source needs a directory; a single file gets a symlink dir (no data
    copy), staged once per path."""
    # Set the conf on EVERY call, not just cache misses: the cache is
    # keyed by path alone, so a second SparkSession in the same process
    # would otherwise hit the cache with the conf never set and fail the
    # streaming read of TIMESTAMP(NANOS) data. Setting it is cheap and
    # idempotent.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isdir(parquet_path):
        return parquet_schema(spark, parquet_path), parquet_path

    def link(stage):
        os.symlink(
            os.path.abspath(parquet_path),
            os.path.join(stage, os.path.basename(parquet_path)),
        )
        return parquet_schema(spark, parquet_path)

    return _staged(f"file::{parquet_path}", link)


def _sessionize_fn(gap_seconds: float):
    gap_us = int(gap_seconds * 1_000_000)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[int, int, int]] = []

        if state.hasTimedOut:
            start, last, count = state.get
            state.remove()
            closed.append((start, last, count))
        else:
            chunks = list(pdfs)
            rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
            # epoch microseconds, event-time order within the batch;
            # segmented vectorized (np.diff > gap) instead of a Python
            # loop per event — same sequential semantics, ~no per-row
            # interpreter cost
            arr = np.sort(rows["ts"].astype("int64").to_numpy()) // 1000
            if state.exists:
                start, last, count = state.get
            else:
                start = last = None
                count = 0
            if arr.size:
                if last is not None and arr[0] - last > gap_us:
                    closed.append((start, last, count))
                    start, count = None, 0
                brk = np.flatnonzero(np.diff(arr) > gap_us)
                seg_starts = np.concatenate(([0], brk + 1))
                seg_ends = np.concatenate((brk, [arr.size - 1]))
                for i in range(seg_starts.size):
                    s0, s1 = int(seg_starts[i]), int(seg_ends[i])
                    if i == 0 and start is not None:
                        seg_start, seg_count = start, count + (s1 - s0 + 1)
                    else:
                        seg_start, seg_count = int(arr[s0]), s1 - s0 + 1
                    if i < seg_starts.size - 1:
                        closed.append((seg_start, int(arr[s1]), seg_count))
                    else:
                        start, last, count = seg_start, int(arr[s1]), seg_count
            state.update((start, last, count))
            # close the open session when the watermark passes last + gap
            state.setTimeoutTimestamp((last + gap_us) // 1000)

        if closed:
            m = np.asarray(closed, dtype="int64")
            yield pd.DataFrame(
                {
                    "user_id": np.full(m.shape[0], user_id, dtype="int64"),
                    "session_start": m[:, 0].astype("datetime64[us]"),
                    "session_end": m[:, 1].astype("datetime64[us]"),
                    "event_count": m[:, 2],
                }
            )

    return fn


def sessionize_stateful(
    events: DataFrame,
    gap_seconds: float = 1800.0,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Closed sessions per user, emitted as they close (append mode).

    ``events`` must be a STREAMING DataFrame with columns
    (user_id, ts, ...); the watermark drives the timeout path.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_seconds),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def replay_sessions(
    spark,
    parquet_path: str,
    gap_seconds: float = 1800.0,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Bounded replay: stream the parquet file(s) at ``parquet_path``
    through the stateful sessionizer into a memory sink and return the
    emitted (closed) sessions.

    Used by tests and the st03 driver query. Emitted = every session
    closed by a successor event, plus last sessions whose
    last_event + gap falls at or before the final watermark (the
    no-data batch availableNow runs at the end fires those timeouts);
    only sessions still open against the global max event time stay
    unemitted. That set is deterministic, so st03 carries a full
    DuckDB oracle (streaming/queries.py).
    """
    # driver testdata carries TIMESTAMP(NANOS); read nanos as long and
    # truncate to micros (same policy as plans.analytics.load)
    batch_schema, stream_path = _schema_and_stage(spark, parquet_path)
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = _normalize_ts(reader.parquet(stream_path)).select("user_id", "ts")
    return _to_memory(spark, sessionize_stateful(stream, gap_seconds), "append")[0]


QUOTA_OUTPUT_SCHEMA = "user_id long, event_id long, ts timestamp"
QUOTA_STATE_SCHEMA = "admitted long"


def _quota_fn(n_max: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = pd.concat(list(pdfs))
        # event-time order with id tie-break: deterministic admission
        rows = rows.sort_values(["ts", "event_id"], kind="stable")
        admitted = state.get[0] if state.exists else 0
        room = max(0, n_max - admitted)
        take = rows.iloc[:room]
        state.update((admitted + len(take),))
        if len(take):
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(take),
                    "event_id": take["event_id"].to_numpy(),
                    "ts": take["ts"].to_numpy(),
                }
            )

    return fn


def enforce_quota(events: DataFrame, n_max: int = 20) -> DataFrame:
    """Per-key admission quota: emit a user's first ``n_max`` events (by
    event time) and drop the rest — the ingestion rate-cap / per-source
    contribution limit a training pipeline applies so no single entity
    dominates the corpus. State is ONE counter per user in the state
    store (the minimal custom-state shape; contrast the sessionizer's
    three scalars), so capacity scales with the shuffle, not the
    driver. Within a micro-batch admission is event-time ordered;
    across batches it is arrival-ordered — exact for the bounded
    single-batch replay the oracle checks, documented-approximate on a
    live stream (the standard streaming-quota caveat)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _quota_fn(n_max),
        outputStructType=QUOTA_OUTPUT_SCHEMA,
        stateStructType=QUOTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def replay_quota(
    spark,
    parquet_path: str,
    n_max: int = 20,
) -> DataFrame:
    """Bounded replay of ``enforce_quota`` over a parquet file through a
    real Structured Streaming run (single availableNow batch → admission
    equals the first n_max rows per user by (ts, event_id), which is the
    DuckDB ROW_NUMBER oracle in streaming/queries.py st06)."""
    batch_schema, stream_path = _schema_and_stage(spark, parquet_path)
    stream = _normalize_ts(
        spark.readStream.schema(batch_schema).parquet(stream_path)
    ).select("user_id", "event_id", "ts")
    return _to_memory(spark, enforce_quota(stream, n_max), "append")[0]


def replay_static_enrich(
    spark,
    parquet_path: str,
    static_df: DataFrame,
    join_key: str,
    group_col: str,
    value_col: str = "value",
) -> DataFrame:
    """Stream-static enrichment: the standard Structured Streaming
    pattern where a live event stream joins a slowly-changing dimension
    without stateful machinery — the static side is just a batch frame
    (re-read per micro-batch on a real stream, broadcast here), so no
    watermark and no state store are involved in the join itself. The
    rollup runs in complete mode over the bounded availableNow replay,
    making the final answer equal to the batch join + aggregate — which
    is the DuckDB oracle."""
    batch_schema, stream_path = _schema_and_stage(spark, parquet_path)
    stream = _normalize_ts(spark.readStream.schema(batch_schema).parquet(stream_path))
    from pyspark.sql import functions as F

    rollup = (
        stream.join(F.broadcast(static_df), join_key)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__tv"),
        )
    )
    return _to_memory(spark, rollup, "complete")[0]


def replay_dedup(
    spark,
    parquet_path: str,
    dedup_cols: list[str] | None = None,
    pre=None,
) -> DataFrame:
    """Streaming exact deduplication: the at-ingest dedup a training
    pipeline runs so re-delivered events never double-count.

    The input file is staged into the landing dir TWICE, so the stream
    delivers every row at least twice; ``dropDuplicates`` holds seen
    keys in the state store and emits each exactly once. The emitted
    set therefore equals the distinct rows of the input — which is the
    DuckDB oracle (st04). Without a watermark, state is unbounded —
    correct for bounded replay; a continuous ingest adds
    ``withWatermark`` so old keys age out.
    """
    dedup_cols = dedup_cols or ["event_id"]
    batch_schema, _ = _schema_and_stage(spark, parquet_path)

    def twice(stage):
        for name in ("first.parquet", "second.parquet"):
            os.symlink(os.path.abspath(parquet_path), os.path.join(stage, name))
        return batch_schema

    _, stage = _staged(f"dedup2x::{parquet_path}", twice)
    stream = _normalize_ts(spark.readStream.schema(batch_schema).parquet(stage))
    if pre is not None:
        # row-local projection (e.g. a content fingerprint) computed ON
        # THE STREAM before state keys in — dedup_cols may name columns
        # it derives
        stream = pre(stream)
    return _to_memory(spark, stream.dropDuplicates(dedup_cols), "append")[0]


LATE_MOD = 20  # id-space density of the straggler/advancer sets (st08)
LATE_CUTOFF = "2024-01-29"  # stragglers/advancers come from before this


def _stage_single_parquet(stage: str, df, name: str, mtime: float) -> None:
    """THE micro-batch staging rule, shared by every ordered-replay
    builder (st08 late-data, st09 stream-stream, st11 watermarked
    dedup, tws totals): write ``df`` as ONE parquet part file named
    ``name`` under ``stage`` with a pinned mtime — the file source
    orders batches by modification time, so the mtime IS the replay's
    batch schedule and must be set identically everywhere."""
    import shutil

    tmp = os.path.join(stage, "__tmp_" + name)
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    dst = os.path.join(stage, name)
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    os.utime(dst, (mtime, mtime))


def _ordered_stream(spark, schema, stage: str) -> DataFrame:
    """Stream a staged dir one file per trigger, oldest mtime first: the
    staged files ARE the replay's micro-batches."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(stage)
    )


def replay_late_data(
    spark,
    parquet_path: str,
    delay: str = "10 minutes",
    window_duration: str = "1 hour",
) -> DataFrame:
    """REAL watermark late-data semantics, exercised end-to-end.

    Spark's streaming aggregation runs TWO watermarks per micro-batch
    (SPARK-40925): the LATE-EVENT filter uses the watermark as of the
    PREVIOUS batch, while state EVICTION/emission uses the current
    one — measured on this build with per-batch
    ``numRowsDroppedByWatermark`` (a two-batch replay therefore never
    drops anything: the stragglers' filter watermark is still -inf).
    So the replay stages THREE files with ordered mtimes and
    ``maxFilesPerTrigger=1``:

    - batch A: everything not routed to B/C — contains the corpus's
      recent tail, so the watermark advances to max(A.ts) − delay;
    - batch B: an old advancer sample (id % LATE_MOD == 1, before
      LATE_CUTOFF) — its only role is to age A's watermark into the
      late-filter position;
    - batch C: the stragglers (id % LATE_MOD == 0 before LATE_CUTOFF)
      PLUS the global-max-ts row(s). Old stragglers whose window
      closed against wmA are DROPPED by the late filter; the max row
      advances the final watermark past wmA, so the final no-data
      batch emits the still-open windows — including accepted-C
      contributions. Both the drop and the acceptance are visible in
      the emitted set, which is a pure function of (split, delay):
      the DuckDB twin (st08) reproduces it with two scalar
      watermarks."""
    from pyspark.sql import functions as F

    from ..plans.analytics import load

    def split(stage):
        sf_dir = os.path.dirname(os.path.abspath(parquet_path))
        ev = load(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts"
        )
        gm = ev.agg(F.max("ts")).first()[0]
        is_max = F.col("ts") == F.lit(gm)
        old = F.col("ts") < F.lit(LATE_CUTOFF).cast("timestamp")
        c_set = ((F.col("event_id") % LATE_MOD == 0) & old) | is_max
        b_set = (F.col("event_id") % LATE_MOD == 1) & old & ~is_max
        t0 = time.time() - 300
        _stage_single_parquet(
            stage, ev.filter(~c_set & ~b_set), "a_ontime.parquet", t0
        )
        _stage_single_parquet(
            stage, ev.filter(b_set), "b_advancer.parquet", t0 + 60
        )
        _stage_single_parquet(
            stage, ev.filter(c_set), "c_late.parquet", t0 + 120
        )
        return parquet_schema(spark, os.path.join(stage, "a_ontime.parquet"))

    batch_schema, stage = _staged(f"late::{parquet_path}", split)
    windows = (
        _ordered_stream(spark, batch_schema, stage)
        .withWatermark("ts", delay)
        .groupBy(F.window("ts", window_duration), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out, q = _to_memory(spark, windows, "append")
    global LAST_LATE_DROPPED
    LAST_LATE_DROPPED = _watermark_drops(q)
    return out


LAST_LATE_DROPPED: int = 0


def replay_dedup_within_watermark(
    spark,
    parquet_path: str,
    delay: str = "3 days",
) -> DataFrame:
    """Streaming dedup with BOUNDED state — ``dropDuplicatesWithinWatermark``
    (Spark 3.5+), the scale-correct form of ``replay_dedup`` (st04):
    st04's plain ``dropDuplicates`` holds every key forever, which at
    100 TB of continuous ingest is an unbounded state store; the
    watermarked variant evicts a key once the watermark passes its
    event time + delay, trading "exactly once forever" for "exactly
    once within the re-delivery horizon" — the contract real ingest
    pipelines actually run.

    Replay design (the replay_late_data three-batch discipline,
    SPARK-40925: the late filter uses the PREVIOUS batch's watermark):

    - batch A: every event except the stragglers — the corpus tail
      advances the watermark to wmA = max(A.ts) − delay;
    - batch B: re-delivered copies of A's OLD rows (id % LATE_MOD == 1,
      before LATE_CUTOFF) — dropped either as late or as duplicates,
      so they never change the emitted set; their role is to roll the
      filter watermark forward so batch C is filtered by wmA;
    - batch C: the stragglers (id % LATE_MOD == 0) as FIRST deliveries
      plus re-delivered copies of A rows (id % LATE_MOD == 2). Old
      stragglers (ts < wmA) are dropped by the LATE filter — a first
      delivery lost entirely, the semantic difference from st04, which
      emits every distinct key no matter how late. Recent stragglers
      emit. The re-deliveries are duplicates with live state (their
      ts ≥ wmA ⇒ eviction horizon ts + delay is ahead of the
      watermark) and are dropped as dups.

    The default delay (3 days against the corpus's ~30-day span) is
    what makes all three outcomes non-empty: wmA lands mid-corpus, so
    batch C carries late stragglers AND recent stragglers AND
    in-horizon re-deliveries at every shipped sf — a short delay
    (minutes) would put wmA at the corpus edge and the duplicate-drop
    path would never execute, certifying only the late filter
    (tests/test_staged_round7.py pins all three populations).

    Emitted = A ∪ {stragglers with ts ≥ wmA} — a pure function of
    (split rule, delay) that the DuckDB twin (st11) computes with one
    scalar watermark."""
    from pyspark.sql import functions as F

    from ..plans.analytics import load

    def split(stage):
        sf_dir = os.path.dirname(os.path.abspath(parquet_path))
        ev = load(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts"
        )
        old = F.col("ts") < F.lit(LATE_CUTOFF).cast("timestamp")
        s_set = F.col("event_id") % LATE_MOD == 0
        b_set = (F.col("event_id") % LATE_MOD == 1) & old
        r_set = F.col("event_id") % LATE_MOD == 2
        t0 = time.time() - 300
        a = ev.filter(~s_set)
        _stage_single_parquet(stage, a, "a_ontime.parquet", t0)
        _stage_single_parquet(
            stage, a.filter(b_set), "b_redeliver_old.parquet", t0 + 60
        )
        _stage_single_parquet(
            stage,
            ev.filter(s_set).unionAll(a.filter(r_set)),
            "c_stragglers_and_dups.parquet",
            t0 + 120,
        )
        return parquet_schema(spark, os.path.join(stage, "a_ontime.parquet"))

    batch_schema, stage = _staged(f"wmdedup::{parquet_path}", split)
    deduped = (
        _ordered_stream(spark, batch_schema, stage)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out, q = _to_memory(spark, deduped, "append")
    global LAST_WMDEDUP_DROPPED
    LAST_WMDEDUP_DROPPED = _watermark_drops(q)
    return out


LAST_WMDEDUP_DROPPED: int = 0


def replay_foreachbatch_upsert(spark, parquet_path: str) -> DataFrame:
    """Streaming ``foreachBatch`` idempotent-append ingest — the SINK
    side of exactly-once, which no other replay certifies: st04/st11
    dedup IN-STREAM (state store holds seen keys), while a production
    warehouse ingest dedups AT THE SINK (anti-join against the target
    table per micro-batch), because sink-side state survives stream
    restarts with a fresh checkpoint and is what the reference's
    incremental loader actually does (reference src/load.py:585-696;
    streaming/incremental.start_incremental_load is the CSV→warehouse
    form of this protocol — this replay certifies the protocol itself
    over the events corpus with a hash oracle).

    Two ordered micro-batches (file-source mtime discipline, one file
    per trigger): batch A delivers 90% of the corpus (event_id % 10
    != 9); batch B delivers the missing 10% PLUS a re-delivery of the
    % 10 == 3 slice. Each batch runs the idempotent protocol —
    in-batch ``dropDuplicates`` then ``left_anti`` against the target
    parquet, then append — so the final table equals the distinct
    corpus no matter how the source coalesces batches: within-batch
    dups die in dropDuplicates, cross-batch dups die in the anti-join.
    That batching-independence is the property that makes the result
    certifiable (the DuckDB twin is a plain aggregate of the input).

    Scale: the per-batch anti-join probes the target the way
    Warehouse.enrich_fact's existence join does — at 100 TB it prunes on the target's date partitions (new
    data is recent); in-batch state is one micro-batch, sink state is
    the table itself, nothing lives on the driver."""
    from pyspark.sql import functions as F

    from ..plans.analytics import load

    def split(stage):
        sf_dir = os.path.dirname(os.path.abspath(parquet_path))
        ev = load(spark, sf_dir, "events")
        a_set = F.col("event_id") % 10 != 9
        redeliver = F.col("event_id") % 10 == 3
        t0 = time.time() - 300
        _stage_single_parquet(stage, ev.filter(a_set), "a_bulk.parquet", t0)
        _stage_single_parquet(
            stage,
            ev.filter(~a_set).unionAll(ev.filter(redeliver)),
            "b_tail_and_redeliver.parquet",
            t0 + 60,
        )
        return parquet_schema(spark, os.path.join(stage, "a_bulk.parquet"))

    batch_schema, stage = _staged(f"fbupsert::{parquet_path}", split)
    target = os.path.join(staging_dir("fbupsert_sink_"), "fact_events")

    def _upsert(batch_df, _batch_id: int) -> None:
        fresh = batch_df.dropDuplicates(["event_id"])
        if os.path.isdir(target):
            existing = read_parquet(spark, target).select("event_id")
            fresh = fresh.join(existing, "event_id", "left_anti")
        fresh.write.mode("append").parquet(target)

    writer = (
        _ordered_stream(spark, batch_schema, stage)
        .writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", staging_dir("fbupsert_ckpt_"))
    )
    _run_replay(spark, writer)
    return read_parquet(spark, target)


def replay_stream_stream_join(
    spark,
    parquet_path: str,
    window_minutes: int = 10,
) -> DataFrame:
    """Bounded replay of a STREAM-STREAM interval join — the state-store
    join surface (two buffered sides, watermark-bounded state) none of
    st01–st08 exercises: each 'click' inner-joins the same user's
    'view' events from the preceding ``window_minutes``. Both sides
    carry watermarks and the join predicate carries the event-time
    range, which is what lets a live run evict buffered rows once the
    watermark passes; in the bounded availableNow replay everything
    lands in one batch, so the emitted pair set equals the batch
    interval join — the DuckDB oracle (st09)."""
    from pyspark.sql import functions as F

    batch_schema, stage = _schema_and_stage(spark, parquet_path)

    def src():
        return _normalize_ts(
            spark.readStream.schema(batch_schema).parquet(stage)
        ).select("event_id", "user_id", "event_type", "ts")

    clicks = (
        src()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", f"{window_minutes} minutes")
    )
    views = (
        src()
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", f"{window_minutes} minutes")
    )
    joined = views.join(
        clicks,
        F.expr(
            f"v_user = c_user AND v_ts <= c_ts "
            f"AND v_ts >= c_ts - interval {window_minutes} minutes"
        ),
        "inner",
    )
    return _to_memory(spark, joined, "append")[0]


def replay_session_window(
    spark,
    parquet_path: str,
    gap: str = "30 minutes",
    delay: str = "30 minutes",
) -> DataFrame:
    """Native ``session_window`` session aggregation from a REAL
    Structured Streaming run (the built-in alternative to the custom
    applyInPandasWithState sessionizer in replay_sessions): watermarked
    event stream, per-user session windows merged by the engine's
    session-state machinery, append-mode emission.

    Append mode only emits sessions the watermark has sealed: after the
    bounded availableNow replay the final watermark rests at
    max(ts) − delay, so sessions still inside it stay in state and are
    NOT emitted — exactly what a live stream would show at that
    instant. The emitted set is therefore deterministic (watermark
    from the global max, not batch boundaries) and the DuckDB oracle
    reproduces it: islands sessions whose end precedes the final
    watermark."""
    from pyspark.sql import functions as F

    batch_schema, stream_path = _schema_and_stage(spark, parquet_path)
    stream = _normalize_ts(
        spark.readStream.schema(batch_schema).parquet(stream_path)
    )
    sessions = (
        stream.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return _to_memory(spark, sessions, "append")[0]


TWS_OUTPUT_SCHEMA = "user_id long, n_events long, total_cents long"


def replay_tws_totals(spark, parquet_path: str) -> DataFrame:
    """Per-user lifetime totals on Spark 4's ``transformWithState``
    arbitrary-state API (the successor of ``applyInPandasWithState``
    this module's sessionizer uses): a ``StatefulProcessor`` holding
    one ValueState per user, accumulated across TWO micro-batches
    (the events file split by event_id parity, ordered mtimes +
    maxFilesPerTrigger=1), RocksDB state store as the API requires.

    ENVIRONMENT GATE: the transformWithState Python worker speaks a
    protobuf protocol to its state server, so this operator needs the
    ``protobuf`` package at runtime. The build container does not ship
    it (and installs are off), so the driver contract does NOT expose
    this as a queries() entry; tests/test_streaming_tws.py runs the
    full replay wherever protobuf exists and skips cleanly here —
    the same stub-but-declared policy as the multimodal codecs and
    the live-PostgreSQL JDBC matrix.

    Determinism discipline: money accumulates as integer CENTS
    (values are exact 2-dp decimals — ``np.round(v·100)`` per row,
    int64 sums are order-independent), so the emitted cumulative
    totals are a pure function of the batch split. Each batch emits
    the key's cumulative row; counts are strictly increasing and
    cents are non-negative, so the FINAL per-user state is the
    per-column MAX over emissions — which is what the batch twin
    (st11's oracle: one GROUP BY over the file) must equal.

    Scale: state is 2 int64s per user in RocksDB, sharded by the
    groupBy shuffle — 10^9 users is tens of GB across a cluster's
    state stores, none of it on the driver.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    try:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )
    except ImportError:  # pragma: no cover - pyspark < 4
        from pyspark.sql.streaming import (  # type: ignore
            StatefulProcessor,
            StatefulProcessorHandle,
        )

    from ..plans.analytics import load

    def split(stage):
        sf_dir = os.path.dirname(os.path.abspath(parquet_path))
        ev = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        t0 = time.time() - 300
        _stage_single_parquet(
            stage, ev.filter(F.col("event_id") % 2 == 0), "a_even.parquet", t0
        )
        _stage_single_parquet(
            stage,
            ev.filter(F.col("event_id") % 2 == 1),
            "b_odd.parquet",
            t0 + 60,
        )
        return parquet_schema(spark, os.path.join(stage, "a_even.parquet"))

    batch_schema, stage = _staged(f"tws::{parquet_path}", split)
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("cents", LongType()),
        ]
    )

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n = 0
            cents = 0
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    np.round(
                        pdf["value"].to_numpy(dtype="float64") * 100.0
                    ).astype("int64").sum()
                )
            if self._state.exists():
                prev = self._state.get()
                n += int(prev[0])
                cents += int(prev[1])
            self._state.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])],
                    "n_events": [n],
                    "total_cents": [cents],
                }
            )

        def close(self) -> None:
            """StatefulProcessor lifecycle hook (required by the ABC).

            A no-op body, NOT an exception handler: this processor
            holds no resources outside the state store (which Spark
            owns and releases itself), so there is nothing to clean up
            and nothing a failure here could swallow — any error in
            handleInputRows/init still propagates and fails the query.
            """

    totals = (
        _ordered_stream(spark, batch_schema, stage)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_Totals(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
    provider = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    }
    return _to_memory(spark, totals, "update", provider)[0]


def replay_left_outer_join(
    spark,
    parquet_path: str,
    window_minutes: int = 10,
) -> DataFrame:
    """Bounded replay of a stream-stream LEFT OUTER interval join —
    the null-emission semantics st09's inner join never exercises:
    a view with no click inside its window must STILL emit (with null
    click columns), and in a live stream that emission can only happen
    once the watermark proves no matching click can ever arrive, i.e.
    on state EVICTION, not on data arrival.

    Two mtime-ordered batches + the availableNow final no-data batch:

    - batch A: every real event. Inner matches emit as they join;
      unmatched views sit in the state store (watermark still -inf —
      nothing can be evicted).
    - batch B: two sentinel rows at global-max-ts + 1 hour — one view
      (user -1), one click (user -2). The join's global watermark is
      the MIN over both input watermarks, so BOTH sides need an
      advancer; distinct users keep the sentinels from matching each
      other. After B the watermark stands at (max+1h − delay), which
      is beyond every real view's match horizon (v_ts + delay), so
      the final no-data batch evicts ALL real unmatched views and
      emits their null rows.

    The sentinel construction makes the emitted set equal the BATCH
    left-outer interval join of the real events — no watermark
    arithmetic leaks into the specification, so the DuckDB twin is
    the plain LEFT JOIN (st13). The sentinel view itself stays below
    its own eviction horizon and is filtered by user_id >= 0 anyway."""
    import datetime

    from pyspark.sql import functions as F

    from ..plans.analytics import load

    def left_join(src):
        views = (
            src()
            .filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("v_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", f"{window_minutes} minutes")
        )
        clicks = (
            src()
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("c_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", f"{window_minutes} minutes")
        )
        return views.join(
            clicks,
            F.expr(
                f"v_user = c_user AND c_ts >= v_ts "
                f"AND c_ts <= v_ts + interval {window_minutes} minutes"
            ),
            "leftOuter",
        )

    key = f"loj::{parquet_path}"
    if key not in _REPLAY_STAGE_CACHE:
        sf_dir = os.path.dirname(os.path.abspath(parquet_path))
        ev = load(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts"
        )
        gm = ev.agg(F.max("ts")).first()[0]
        if gm is None:
            # no events: no watermark to advance, and the batch join of
            # the empty table is the whole (empty) answer
            return left_join(lambda: ev)
        adv = gm + datetime.timedelta(hours=1)
        sentinels = local_frame(
            spark,
            [(-1, -1, "view", adv), (-2, -2, "click", adv)],
            ev.schema,
        )

        def split(stage):
            t0 = time.time() - 300
            _stage_single_parquet(stage, ev, "a_events.parquet", t0)
            _stage_single_parquet(
                stage, sentinels, "b_advancers.parquet", t0 + 60
            )
            return parquet_schema(
                spark, os.path.join(stage, "a_events.parquet")
            )

        _staged(key, split)
    batch_schema, stage = _REPLAY_STAGE_CACHE[key]
    joined = left_join(lambda: _ordered_stream(spark, batch_schema, stage))
    return _to_memory(spark, joined, "append")[0]


def replay_scd_asof_enrich(
    spark,
    parquet_path: str,
    versions: DataFrame,
) -> DataFrame:
    """Stream-static SLOWLY-CHANGING-DIMENSION enrichment: the purchase
    stream joins a versioned dimension on ``user_id`` PLUS the
    effective-range predicate ``eff_from <= ts < eff_to`` — the as-of
    lookup every SCD-type-2 warehouse join performs, executed as a
    stream-static join (static side broadcast per micro-batch, no
    state store, no watermark: versions are disjoint per user, so each
    event matches at most one row and the join is stateless by
    construction). Complete-mode rollup over the bounded availableNow
    replay == the batch join + aggregate == the DuckDB oracle."""
    from pyspark.sql import functions as F

    batch_schema, stream_path = _schema_and_stage(spark, parquet_path)
    stream = _normalize_ts(
        spark.readStream.schema(batch_schema).parquet(stream_path)
    ).filter(F.col("event_type") == "purchase")
    cond = (
        (stream["user_id"] == versions["__uid"])
        & (stream["ts"] >= versions["eff_from"])
        & (stream["ts"] < versions["eff_to"])
    )
    rollup = (
        stream.join(F.broadcast(versions), cond)
        .groupBy("version_no")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("__tv"),
        )
    )
    return _to_memory(spark, rollup, "complete")[0]


def replay_binned_histogram(
    spark,
    parquet_path: str,
    bin_cap: int = 511,
) -> "DataFrame":
    """Streaming MERGEABLE-SKETCH aggregation: each micro-batch folds
    its events into a bounded (event_type, bin) count matrix — the
    hq01 fixed-width histogram — and complete-mode output re-emits the
    merged sketch after every batch. This is the streaming form of the
    sketch-mergeability contract hll03 certifies in batch: partials
    from any batch split merge to the same matrix, so the availableNow
    replay's final table equals the batch histogram — which is what
    the DuckDB oracle computes. State is the matrix itself: bounded by
    |types|×(bin_cap+1) BY CONSTRUCTION, never by the stream length —
    the property that lets a quantile dashboard run forever on a
    100 TB/day firehose."""
    from pyspark.sql import functions as F

    batch_schema, stream_path = _schema_and_stage(spark, parquet_path)
    stream = _normalize_ts(
        spark.readStream.schema(batch_schema).parquet(stream_path)
    )
    hist = (
        stream.select(
            "event_type",
            F.least(
                F.floor(F.col("value")).cast("int"), F.lit(bin_cap)
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("bin_count"))
    )
    return _to_memory(spark, hist, "complete")[0]


def replay_countmin_cells(
    spark,
    parquet_path: str,
    depth: int,
    width: int,
    key_col: str = "user_id",
) -> "DataFrame":
    """Streaming Count-Min sketch maintenance: each micro-batch folds
    its events into the D×W integer cell matrix (cells are SUMS, the
    mergeable-sketch property cm01 certifies in batch), complete-mode
    output re-emits the merged matrix after every batch. State is the
    matrix itself — bounded by depth × width BY CONSTRUCTION, never by
    the stream, which is what lets a heavy-hitter monitor run forever
    on a firehose. The hash family is the library's seeded 60-bit md5
    ('cm{d}:{key}'), identical to cm01's, so the DuckDB oracle can
    recompute every probed cell exactly."""
    from pyspark.sql import functions as F

    from ..functions import dedup as dd

    batch_schema, stream_path = _schema_and_stage(spark, parquet_path)
    stream = _normalize_ts(
        spark.readStream.schema(batch_schema).parquet(stream_path)
    )
    cells = (
        stream.select(F.col(key_col).cast("string").alias("__k"))
        .select(
            "__k",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("__d"),
        )
        .withColumn(
            "__b",
            dd.hash60(
                F.concat(
                    F.lit("cm"),
                    F.col("__d").cast("string"),
                    F.lit(":"),
                    F.col("__k"),
                )
            )
            % width,
        )
        .groupBy("__d", "__b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cell_count"))
    )
    return _to_memory(spark, cells, "complete")[0]


def replay_hll_registers(
    spark,
    parquet_path: str,
    hll_m: int,
    rest_bits: int,
    key_col: str = "user_id",
    group_col: str = "event_type",
) -> "DataFrame":
    """Streaming HyperLogLog register maintenance: each micro-batch
    MAXes its (group, bucket) rho values into the register matrix —
    max is the HLL merge operator (hll03's batch certification), so
    the complete-mode availableNow replay's final registers must equal
    the one-shot batch registers, which is exactly what the DuckDB
    oracle computes. State bounded by |groups| × hll_m BY
    CONSTRUCTION. Hash family identical to hll02's (_H60 of the key
    string; bucket = low bits, rho = leading-zero rank of the rest)."""
    from pyspark.sql import functions as F

    from ..functions import dedup as dd

    rest_zero_rho = rest_bits + 1
    batch_schema, stream_path = _schema_and_stage(spark, parquet_path)
    stream = _normalize_ts(
        spark.readStream.schema(batch_schema).parquet(stream_path)
    )
    regs = (
        stream.select(
            F.col(group_col).alias("__g"),
            dd.hash60(F.col(key_col).cast("string")).alias("__h"),
        )
        .select(
            "__g",
            (F.col("__h") % hll_m).alias("__b"),
            F.expr(
                f"CASE WHEN __h div {hll_m} = 0 THEN {rest_zero_rho} "
                f"ELSE {rest_bits} - length(bin(__h div {hll_m})) + 1 END"
            ).alias("__rho"),
        )
        .groupBy("__g", "__b")
        .agg(F.max("__rho").cast("int").alias("register_rho"))
    )
    return _to_memory(spark, regs, "complete")[0]


def replay_bloom_words(
    spark,
    parquet_path: str,
    m_bits: int,
    k: int,
) -> "DataFrame":
    """Streaming Bloom-filter maintenance: each micro-batch ORs its
    document fingerprints' bit contributions into the m/32-row word
    table (32 bits per BIGINT word: DuckDB's `<<` raises on shifting
    into the sign bit, so the engine-neutral layout stays below it) — bitwise OR is the Bloom merge operator, completing the
    streamed-sketch merge family (sum/max/or). State is the word table
    itself, bounded by m_bits BY CONSTRUCTION. Hash positions use the
    seeded 60-bit md5 family ('bf{i}:{fingerprint}') — engine-neutral,
    so the DuckDB oracle recomputes every word exactly (bf01's
    xxhash64 positions are Spark-internal and exist only as a prune;
    this filter is itself the certified artifact)."""
    from pyspark.sql import functions as F

    from ..functions import dedup as dd
    from ..functions import text as tx

    batch_schema, stream_path = _schema_and_stage(spark, parquet_path)
    stream = _normalize_ts(
        spark.readStream.schema(batch_schema).parquet(stream_path)
    )
    contribs = None
    base = stream.select(tx.fingerprint("text").alias("__fp"))
    for i in range(k):
        h = dd.hash60(
            F.concat(F.lit(f"bf{i}:"), F.col("__fp"))
        ) % m_bits
        # F.shiftleft takes a literal shift amount, so the column-shift
        # goes through the SQL expression form
        c = base.select(h.alias("__hm")).select(
            F.expr("__hm div 32").alias("__widx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__hm % 32 AS INT))"
            ).alias("__b"),
        )
        contribs = c if contribs is None else contribs.unionAll(c)
    words = contribs.groupBy("__widx").agg(
        F.expr("bit_or(__b)").alias("word")
    )
    return _to_memory(spark, words, "complete")[0]


# --- round-11 staged: st20 streaming bottom-k (KMV) sample ---------------

#: st20's staged multi-file split: the events table is rewritten ONCE
#: per (process, source path) into this many parquet files so the
#: availableNow replay (maxFilesPerTrigger=1) runs a REAL multi-batch
#: merge — a single-file stage would fold everything in one batch and
#: certify nothing about cross-batch state.
BOTTOMK_SPLIT_FILES = 4

BOTTOMK_OUTPUT_SCHEMA = (
    "event_type string, n_events long, occupied long, "
    "kmv_threshold long, hashmod_sum long, user_sum long"
)
# state: the bottom-k (hash, min-user) pairs as one "h:u,h:u" string
# (sorted by hash) plus the exact cumulative row count. A string state
# keeps the schema to universally-supported scalar types; its size is
# bounded by k ~tens of chars, BY CONSTRUCTION never by the stream.
BOTTOMK_STATE_SCHEMA = "pairs string, nrows long"

#: digest modulus: bottom-k hash sums would overflow int64 (k · 2^60),
#: so both engines sum h % this prime instead — exact, order-free.
BOTTOMK_DIGEST_MOD = 1_000_000_007


def _bottomk_fn(k: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key
        rows = pd.concat(list(pdfs))
        pairs: dict[int, int] = {}
        nrows = 0
        if state.exists:
            blob, nrows = state.get
            if blob:
                for item in blob.split(","):
                    h_s, u_s = item.split(":")
                    pairs[int(h_s)] = int(u_s)
        # set-union merge with min-user tie rule on a (negligible but
        # pinned) 60-bit hash collision — mirrors the oracle's
        # GROUP BY hash / MIN(user_id)
        for h, u in zip(
            rows["__h"].to_numpy(), rows["user_id"].to_numpy()
        ):
            h = int(h)
            u = int(u)
            cur = pairs.get(h)
            if cur is None or u < cur:
                pairs[h] = u
        nrows += len(rows)
        # truncating to the k smallest is lossless for bottom-k: the
        # KMV threshold only ever shrinks, so an evicted hash can never
        # re-qualify — the property that makes the sketch mergeable
        best = sorted(pairs.items())[:k]
        state.update(
            (",".join(f"{h}:{u}" for h, u in best), nrows)
        )
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "n_events": [nrows],
                "occupied": [len(best)],
                "kmv_threshold": [best[-1][0]],
                "hashmod_sum": [
                    sum(h % BOTTOMK_DIGEST_MOD for h, _ in best)
                ],
                "user_sum": [sum(u for _, u in best)],
            }
        )

    return fn


def replay_bottomk_sample(
    spark,
    parquet_path: str,
    k: int,
    split_files: int = BOTTOMK_SPLIT_FILES,
) -> "DataFrame":
    """Streaming bottom-k (KMV) distinct-user sample maintenance: each
    micro-batch merges its users' 60-bit hashes into the per-type
    bottom-k set — "union, keep the k smallest" is the KMV merge
    operator (a lattice meet, like Bloom's OR and HLL's max), so the
    multi-batch replay's final state must equal the one-shot batch
    bottom-k, which is exactly what the DuckDB oracle computes. This
    adds the ORDER-STATISTICS state shape to the streamed-sketch merge
    family (st16/st17 sums, st18 maxes, st19 ORs): the sketch that
    yields both a distinct-count estimate AND an actual uniform sample
    of the keys — the monitor a 100 TB ingest runs to eyeball WHO is in
    the stream, not just how many. State is k pairs per group BY
    CONSTRUCTION. The source is staged into ``split_files`` parquet
    files read with maxFilesPerTrigger=1, so the merge genuinely
    crosses micro-batch boundaries; each batch emits the group's
    current digest row and the final row per group (max n_events —
    exact, monotone) is the certified answer."""
    from pyspark.sql import functions as F

    from ..functions import dedup as dd

    def split(stage):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        src = read_parquet(spark, parquet_path).select("event_type", "user_id")
        src.repartition(split_files).write.mode("overwrite").parquet(stage)
        return parquet_schema(spark, stage)

    schema, stage = _staged(f"bottomk{split_files}::{parquet_path}", split)
    sample = (
        _ordered_stream(spark, schema, stage)
        .select(
            "event_type",
            "user_id",
            dd.hash60(F.col("user_id").cast("string")).alias("__h"),
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            _bottomk_fn(k),
            outputStructType=BOTTOMK_OUTPUT_SCHEMA,
            stateStructType=BOTTOMK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _to_memory(spark, sample, "append")[0]


#: st21's micro-batch count: the document stream is staged into this
#: many parquet files read with maxFilesPerTrigger=1, so the signature
#: merge genuinely crosses batch boundaries (the st20 pattern).
MINHASH_SPLIT_FILES = 4


def replay_minhash_signature(
    spark,
    parquet_path: str,
    k: int,
    group_col: str = "source",
) -> "DataFrame":
    """Streaming per-group MinHash signature maintenance: each
    micro-batch MINs its documents' k permuted fingerprint hashes into
    the (group, permutation) signature matrix — element-wise min IS
    the MinHash merge operator (resemblance sketches union by
    component-wise minimum), so the multi-batch availableNow replay's
    final signatures must equal the one-shot batch signatures, which
    is exactly what the DuckDB oracle computes from the same affine
    hash family (functions/dedup's minhash_a/minhash_b over the 60-bit
    md5 base — engine-neutral end to end). Completes the streamed-
    sketch merge algebra: st16/st17 fold SUMS, st18 MAXES, st19 ORs,
    st20 bottom-k order statistics — this adds the element-wise-MIN
    lattice, the one a streaming dedup/overlap monitor maintains to
    estimate cross-source resemblance without ever joining documents.
    State bounded by |groups| × k BY CONSTRUCTION. The source is
    staged into MINHASH_SPLIT_FILES parquet files read with
    maxFilesPerTrigger=1, so the merge genuinely crosses micro-batch
    boundaries."""
    from pyspark.sql import functions as F

    from ..functions import dedup as dd
    from ..functions import text as tx
    from ..functions.dedup import (
        MINHASH_P,
        MINHASH_REDUCE,
        minhash_a,
        minhash_b,
    )

    def split(stage):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        src = read_parquet(spark, parquet_path).select(
            F.col(group_col).alias("__g"),
            tx.fingerprint("text").alias("__fp"),
        )
        src.repartition(MINHASH_SPLIT_FILES).write.mode("overwrite").parquet(stage)
        return parquet_schema(spark, stage)

    schema, stage = _staged(f"minhash_{group_col}::{parquet_path}", split)
    h0 = dd.hash60(F.col("__fp")) % F.lit(MINHASH_REDUCE)
    perms = F.array(
        *[
            (F.lit(minhash_a(j)) * h0 + F.lit(minhash_b(j)))
            % F.lit(MINHASH_P)
            for j in range(k)
        ]
    )
    sig = (
        _ordered_stream(spark, schema, stage)
        .select("__g", F.posexplode(perms).alias("__j", "__v"))
        .groupBy("__g", "__j")
        .agg(F.min("__v").cast("bigint").alias("sig"))
    )
    return _to_memory(spark, sig, "complete")[0]
