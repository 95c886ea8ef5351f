"""Driver-contract wrappers for the streaming window operators.

Each streaming operator's batch twin runs over the ``events`` test table
and is hash-checked against a DuckDB oracle — the same one-plan-two-modes
property the module is built on (windows.py docstring): what the oracle
validates in batch is exactly what ``readStream`` executes with a
watermark.

Oracle equivalences:
- ``F.window(ts, '1 hour')`` tumbling windows align to epoch hour
  boundaries → DuckDB ``date_trunc('hour', ts)``.
- ``F.session_window(ts, gap)`` merges an event that lands exactly at
  last_event + gap (inclusive merge), so the gaps-and-islands twin
  starts a new session only when ``ts - prev_ts > gap`` — verified by
  tests/test_streaming.py::test_session_summary_gap_semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.analytics import load
from .windows import session_summary, sliding_rollup, tumbling_rollup

SESSION_GAP_SECONDS = 1800


def st01_tumbling_rollup(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return tumbling_rollup(ev, duration="1 hour", watermark=None).orderBy(
        "window_start", "event_type"
    )


def st02_session_summary(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return session_summary(ev, gap="30 minutes")


def st03_stateful_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Closed sessions from an actual Structured Streaming run of the
    applyInPandasWithState sessionizer over the events file (see
    streaming/stateful.py for why the emitted set is deterministic)."""
    from .stateful import replay_sessions

    return replay_sessions(spark, f"{sf}/events.parquet").orderBy(
        "user_id", "session_start"
    )


def st04_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exactly-once dedup: the events file is delivered TWICE
    through a file stream; dropDuplicates state emits each event_id
    once, so the rollup equals a plain aggregation of the input (the
    oracle)."""
    from .stateful import replay_dedup

    deduped = replay_dedup(spark, f"{sf}/events.parquet")
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


def st05_sliding_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping 1h windows sliding every 30min: each event lands in
    two windows. Batch twin of windows.sliding_rollup — the oracle
    unions the two 30-min-aligned window starts each event belongs to
    (time_bucket aligns at :00/:30, same as F.window's epoch origin)."""
    ev = load(spark, sf, "events")
    return sliding_rollup(
        ev, duration="1 hour", slide="30 minutes", watermark=None
    ).orderBy("window_start", "event_type")


QUOTA_N_MAX = 20


def st06_quota_enforce(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user admission quota from an actual Structured Streaming run
    of the applyInPandasWithState counter (streaming/stateful.py
    enforce_quota): each user's first 20 events by (ts, event_id) are
    admitted, the rest dropped — rolled up per user so the oracle
    hash-checks both membership (event_id sum) and counts."""
    from .stateful import replay_quota

    admitted = replay_quota(spark, f"{sf}/events.parquet", n_max=QUOTA_N_MAX)
    return (
        admitted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.sum("event_id").cast("bigint").alias("admitted_id_sum"),
            F.max("ts").alias("last_admitted_ts"),
        )
        .orderBy("user_id")
    )


def st07_stream_static_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static dimension enrichment from an actual Structured
    Streaming run: the events stream broadcast-joins the (static)
    customer dimension on user_id and rolls revenue up per market
    segment in complete mode — no state store, no watermark; on a live
    stream the static side is re-resolved per micro-batch (the standard
    slowly-changing-dim pattern). Bounded replay == batch join+agg ==
    the oracle."""
    from .stateful import replay_static_enrich
    from ..plans.analytics import load

    cust = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = replay_static_enrich(
        spark, f"{sf}/events.parquet", cust, "user_id", "c_mktsegment"
    )
    return out.select(
        "c_mktsegment",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.col("__tv").cast("double"), 4).alias("total_value"),
    ).orderBy("c_mktsegment")


def st08_late_data_drop(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark LATE-DATA dropping from an actual two-micro-batch
    Structured Streaming run (streaming/stateful.replay_late_data):
    stragglers delivered after the watermark advanced are dropped when
    their window already closed, accepted otherwise, and only
    finalized windows emit. Rolled up per event type so the oracle
    hash-checks the emitted window count and event mass — the drop
    rule itself, not just row counts."""
    from .stateful import replay_late_data

    emitted = replay_late_data(spark, f"{sf}/events.parquet")
    return (
        emitted.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows_emitted"),
            F.sum("n_events").cast("bigint").alias("n_events_emitted"),
        )
        .orderBy("event_type")
    )


def st09_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """View→click attribution from an actual stream-stream interval
    join run (streaming/stateful.replay_stream_stream_join): per user,
    the (view, click) pairs where the view precedes the click by at
    most 10 minutes. Rolled up with id-sum membership pins so the
    oracle certifies the exact pair set, not just counts."""
    from .stateful import replay_stream_stream_join

    pairs = replay_stream_stream_join(spark, f"{sf}/events.parquet")
    return (
        pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("c_id").cast("bigint").alias("n_clicks_with_view"),
            F.sum(F.col("c_id") + F.col("v_id"))
            .cast("bigint")
            .alias("pair_id_sum"),
        )
        .orderBy("user_id")
    )


STREAMING_QUERIES = {
    "st01_tumbling_rollup": st01_tumbling_rollup,
    "st02_session_summary": st02_session_summary,
    "st03_stateful_sessions": st03_stateful_sessions,
    "st04_stream_dedup": st04_stream_dedup,
    "st05_sliding_rollup": st05_sliding_rollup,
    "st06_quota_enforce": st06_quota_enforce,
    "st07_stream_static_enrich": st07_stream_static_enrich,
    "st08_late_data_drop": st08_late_data_drop,
    "st09_stream_stream_join": st09_stream_stream_join,
}

STREAMING_ORACLE = {
    "st01_tumbling_rollup": """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS event_count,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
""",
    "st02_session_summary": f"""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > {SESSION_GAP_SECONDS}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
         SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
), per_sess AS (
  SELECT user_id, session_id, COUNT(*) AS event_count
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS session_count,
       CAST(SUM(event_count) AS BIGINT) AS event_count,
       CAST(MAX(event_count) AS BIGINT) AS max_session_events
FROM per_sess
GROUP BY user_id
ORDER BY user_id
""",
    # st03: sessions closed by a successor event, plus final sessions
    # timed out by the end-of-stream watermark (= global max event ts);
    # a user's still-open last session is the only one not emitted.
    "st03_stateful_sessions": f"""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_SECONDS} * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
), per_sess AS (
  SELECT user_id, sid,
         MIN(ts) AS session_start,
         MAX(ts) AS session_end,
         CAST(COUNT(*) AS BIGINT) AS event_count
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, event_count
FROM per_sess p
WHERE sid < (SELECT MAX(sid) FROM per_sess q WHERE q.user_id = p.user_id)
   OR epoch_us(session_end) + {SESSION_GAP_SECONDS} * 1000000
        <= (SELECT MAX(epoch_us(ts)) FROM events)
ORDER BY user_id, session_start
""",
    # st04: double-delivery + streaming dropDuplicates == plain agg
    "st04_stream_dedup": """
SELECT event_type,
       COUNT(*) AS event_count,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    # st05: every event belongs to the window starting at its 30-min
    # bucket and the one 30 min earlier
    "st05_sliding_rollup": """
WITH starts AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE, event_type FROM events
)
SELECT ws AS window_start,
       ws + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS event_count
FROM starts
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
""",
    # st06: single-batch replay admits the first n_max events per user
    # in (ts, event_id) order — exactly ROW_NUMBER <= n_max
    "st06_quota_enforce": """
WITH ranked AS (
  SELECT user_id, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_admitted,
       CAST(SUM(event_id) AS BIGINT) AS admitted_id_sum,
       MAX(ts) AS last_admitted_ts
FROM ranked WHERE rn <= 20
GROUP BY user_id
ORDER BY user_id
""",
    # st08: three-batch watermark replay (see stateful.replay_late_data
    # for the split). Spark's late filter uses the PREVIOUS batch's
    # watermark and eviction the current one (SPARK-40925), so:
    # stragglers (batch C) keep only windows still open at wmA (the
    # watermark the on-time batch A established); emission = windows
    # closed against the FINAL watermark, which C's max-ts row advanced
    # past wmA.
    "st08_late_data_drop": """
WITH g AS (
  SELECT MAX(ts) AS gm FROM events
), tagged AS (
  SELECT event_type, ts,
         (event_id % 20 = 0 AND ts < TIMESTAMP '2024-01-29 00:00:00')
           OR ts = (SELECT gm FROM g) AS in_c,
         event_id % 20 = 1 AND ts < TIMESTAMP '2024-01-29 00:00:00'
           AND ts <> (SELECT gm FROM g) AS in_b
  FROM events
), wma AS (
  SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM tagged
  WHERE NOT in_c AND NOT in_b
), wmf AS (
  SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events
), kept AS (
  SELECT event_type, date_trunc('hour', ts) AS ws FROM tagged
  WHERE NOT in_c
  UNION ALL
  SELECT event_type, date_trunc('hour', ts) FROM tagged
  WHERE in_c
    AND date_trunc('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wma)
), emitted AS (
  SELECT event_type, ws, COUNT(*) AS c FROM kept
  WHERE ws + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
  GROUP BY event_type, ws
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_windows_emitted,
       CAST(SUM(c) AS BIGINT) AS n_events_emitted
FROM emitted GROUP BY event_type ORDER BY event_type
""",
    # st09: bounded replay == batch interval join
    "st09_stream_stream_join": """
WITH c AS (
  SELECT event_id AS c_id, user_id, ts AS c_ts FROM events
  WHERE event_type = 'click'
), v AS (
  SELECT event_id AS v_id, user_id, ts AS v_ts FROM events
  WHERE event_type = 'view'
), p AS (
  SELECT c.user_id, c.c_id, v.v_id
  FROM v JOIN c ON v.user_id = c.user_id
   AND v.v_ts <= c.c_ts
   AND v.v_ts >= c.c_ts - INTERVAL 10 MINUTE
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT c_id) AS BIGINT) AS n_clicks_with_view,
       CAST(SUM(c_id + v_id) AS BIGINT) AS pair_id_sum
FROM p GROUP BY user_id ORDER BY user_id
""",
    "st07_stream_static_enrich": """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS total_value
FROM events JOIN customer ON events.user_id = customer.c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
}


def st10_session_window_stream(spark: SparkSession, sf: str) -> DataFrame:
    """Native engine-managed session windows from a REAL Structured
    Streaming run (the built-in sibling of st03's custom sessionizer):
    watermarked stream, per-user session_window merge, append-mode
    emission. Only watermark-sealed sessions emit (session_end
    strictly before max(ts) − 30 min — the live-stream answer at end
    of input); the oracle reproduces exactly that set with an islands
    computation. Session merge is boundary-INCLUSIVE
    (a gap of exactly the 30-minute threshold merges — pinned in
    tests/test_streaming.py), mirrored by the oracle's strict > break
    rule."""
    from .stateful import replay_session_window

    return replay_session_window(spark, f"{sf}/events.parquet").orderBy(
        "user_id", "session_start"
    )


STREAMING_QUERIES["st10_session_window_stream"] = st10_session_window_stream

STREAMING_ORACLE["st10_session_window_stream"] = """
WITH e AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM e
), sess AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM s GROUP BY user_id, sid
), wm AS (
  SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM e
)
SELECT user_id, session_start, session_end, n_events
FROM sess, wm WHERE session_end < wm.w
ORDER BY user_id, session_start
"""


def st11_watermarked_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-state streaming dedup from an actual three-micro-batch
    ``dropDuplicatesWithinWatermark`` run (streaming/stateful.
    replay_dedup_within_watermark): re-deliveries inside the watermark
    horizon are dropped against live state, old re-deliveries are
    dropped by the late filter, and a FIRST delivery that arrives
    after the watermark passed is lost entirely — the semantic
    difference from st04's unbounded dropDuplicates, which emits every
    distinct key no matter how late. Rolled up per event type with an
    id-sum membership pin so the oracle certifies the exact emitted
    set, not just counts."""
    from .stateful import replay_dedup_within_watermark

    emitted = replay_dedup_within_watermark(spark, f"{sf}/events.parquet")
    return (
        emitted.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("event_type")
    )


STREAMING_QUERIES["st11_watermarked_dedup"] = st11_watermarked_dedup

# DuckDB twin of st11: emitted = on-time batch ∪ stragglers still at or
# above the watermark the on-time batch established (one scalar
# watermark; re-deliveries drop either as late rows or as duplicates
# against live state, so they never appear).
STREAMING_ORACLE["st11_watermarked_dedup"] = """
WITH e AS (
  SELECT event_id, event_type, ts FROM events
), a AS (
  SELECT * FROM e WHERE event_id % 20 <> 0
), wma AS (
  SELECT MAX(ts) - INTERVAL 3 DAY AS w FROM a
), emitted AS (
  SELECT * FROM a
  UNION ALL
  SELECT * FROM e
  WHERE event_id % 20 = 0 AND ts >= (SELECT w FROM wma)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM emitted GROUP BY event_type ORDER BY event_type
"""


def st12_foreachbatch_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Sink-side exactly-once: an actual two-micro-batch foreachBatch
    ingest (streaming/stateful.replay_foreachbatch_upsert) running the
    reference's idempotent-append protocol — in-batch dropDuplicates +
    anti-join against the target parquet, then append — with batch B
    re-delivering 10% of batch A. The final table is the distinct
    corpus BY CONSTRUCTION of the protocol (not of the batch split),
    so the DuckDB twin is a plain aggregate of the input; the id_sum
    pin certifies the exact ingested set, the value sum certifies no
    row was double-appended."""
    from .stateful import replay_foreachbatch_upsert

    fact = replay_foreachbatch_upsert(spark, f"{sf}/events.parquet")
    return (
        fact.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


STREAMING_QUERIES["st12_foreachbatch_upsert"] = st12_foreachbatch_upsert

# DuckDB twin of st12: the idempotent sink's final state equals the
# distinct input corpus (event_id is the key; the replay re-delivers
# but never fabricates), so the oracle aggregates the events table
# directly — engine-neutral, batching-independent.
STREAMING_ORACLE["st12_foreachbatch_upsert"] = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS total_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def st13_left_outer_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Unattributed-view accounting from an actual stream-stream LEFT
    OUTER interval join run (streaming/stateful.replay_left_outer_join):
    per user, every view emits — matched views as (view, click) pairs,
    unmatched views as null rows once the watermark proves no click
    can arrive. The sentinel advancer pushes the final watermark past
    every real view's match horizon, so the emitted set equals the
    batch left-outer join and the oracle is plain SQL with no
    watermark arithmetic. Id-sum pins certify the exact pair AND
    null-view sets, not just counts."""
    from .stateful import replay_left_outer_join

    rows = replay_left_outer_join(spark, f"{sf}/events.parquet").filter(
        F.col("v_user") >= 0
    )
    return (
        rows.groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_output_rows"),
            F.count("c_id").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("c_id").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_unmatched_views"),
            F.sum(
                F.when(
                    F.col("c_id").isNotNull(),
                    F.col("v_id") + F.col("c_id"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("pair_id_sum"),
            F.sum(F.when(F.col("c_id").isNull(), F.col("v_id")).otherwise(0))
            .cast("bigint")
            .alias("null_view_id_sum"),
        )
        .orderBy("user_id")
    )


STREAMING_QUERIES["st13_left_outer_attribution"] = st13_left_outer_attribution

STREAMING_ORACLE["st13_left_outer_attribution"] = """
WITH v AS (
  SELECT event_id AS v_id, user_id, ts AS v_ts
  FROM events WHERE event_type = 'view'
), c AS (
  SELECT event_id AS c_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
), j AS (
  SELECT v.user_id, v.v_id, c.c_id
  FROM v LEFT JOIN c
    ON v.user_id = c.user_id
   AND c.c_ts >= v.v_ts
   AND c.c_ts <= v.v_ts + INTERVAL 10 MINUTE
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_output_rows,
       CAST(COUNT(c_id) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched_views,
       CAST(SUM(CASE WHEN c_id IS NOT NULL THEN v_id + c_id ELSE 0 END)
            AS BIGINT) AS pair_id_sum,
       CAST(SUM(CASE WHEN c_id IS NULL THEN v_id ELSE 0 END) AS BIGINT)
         AS null_view_id_sum
FROM j GROUP BY user_id ORDER BY user_id
"""


def st14_content_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CONTENT dedup at ingest — the streaming face of the
    dd01 exact-dedup family: the documents file is delivered TWICE
    through a file stream, a row-local 60-bit content fingerprint
    (functions/dedup.hash60 — the library-wide hash) is computed ON
    THE STREAM, and ``dropDuplicates`` state keyed on (lang,
    fingerprint) emits each distinct content exactly once. This is the
    online dedup every training-data ingest runs so re-crawled /
    re-delivered documents never double-count — inc01's batch
    semantics moved into the state store.

    Which PHYSICAL row survives per content group is delivery-order
    dependent, so the certified rollup only reads content-determined
    values: per lang, the distinct-content count, the character mass
    (equal-content rows have equal length), and a fingerprint-modulus
    membership pin. The oracle is the plain batch distinct — streaming
    state buys exactly-once, never a different answer.

    Scale: state shards by the dedup key across executors; a
    continuous ingest bounds it with a watermark horizon (st11's
    variant). One row per distinct content, O(1) state per key."""
    from ..functions.dedup import hash60
    from .stateful import replay_dedup

    def _fingerprint(stream: DataFrame) -> DataFrame:
        return stream.select(
            "lang", "text", hash60(F.col("text")).alias("__fp")
        )

    emitted = replay_dedup(
        spark,
        f"{sf}/documents.parquet",
        dedup_cols=["lang", "__fp"],
        pre=_fingerprint,
    )
    return (
        emitted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_contents"),
            F.sum(F.length("text")).cast("bigint").alias("char_mass"),
            F.sum(F.col("__fp") % F.lit(1000000007))
            .cast("bigint")
            .alias("fp_mod_sum"),
        )
        .orderBy("lang")
    )


STREAMING_QUERIES["st14_content_dedup"] = st14_content_dedup

# batch distinct-content rollup — exactly what the stream must emit;
# DuckDB md5 over VARCHAR hashes the same utf-8 bytes Spark's
# md5(text-as-binary) does (the mm06 rule)
STREAMING_ORACLE["st14_content_dedup"] = """
WITH d AS (
  SELECT lang,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fp,
         MAX(length(text)) AS len
  FROM documents GROUP BY 1, 2
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_contents,
       CAST(SUM(len) AS BIGINT) AS char_mass,
       CAST(SUM(fp % 1000000007) AS BIGINT) AS fp_mod_sum
FROM d GROUP BY lang ORDER BY lang
"""


# --- round-8 streaming surface (wave 37) -------------------------------------

def st15_scd_asof_enrich(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-type-2 as-of enrichment from an actual Structured Streaming
    run: each user's SIGNUP events define dimension versions
    (version_no = n-th signup, effective until the next), and the
    purchase stream joins the version in effect AT ITS EVENT TIME —
    stream-static join on user_id plus the effective-range predicate,
    the standard point-in-time dimension lookup (st07's equi-join is
    its versionless special case). Versions are disjoint per user, so
    the join is stateless; purchases before a user's first signup
    carry no version and drop out (inner semantics, the audit-visible
    choice). Bounded replay == batch as-of join + rollup == the
    DuckDB oracle (same window, same tie order ts then event_id)."""
    from pyspark.sql import Window

    from .stateful import replay_scd_asof_enrich

    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", "ts", "event_id")
        .select(
            F.col("user_id").alias("__uid"),
            F.row_number().over(w).alias("version_no"),
            F.col("ts").alias("eff_from"),
            F.coalesce(
                F.lead("ts").over(w),
                F.lit("9999-12-31 00:00:00").cast("timestamp"),
            ).alias("eff_to"),
        )
    )
    out = replay_scd_asof_enrich(spark, f"{sf}/events.parquet", versions)
    return out.select(
        F.col("version_no").cast("bigint").alias("version_no"),
        F.col("n_purchases").cast("bigint").alias("n_purchases"),
        F.round(F.col("__tv").cast("double"), 4).alias("total_value"),
    ).orderBy("version_no")


STREAMING_QUERIES["st15_scd_asof_enrich"] = st15_scd_asof_enrich

STREAMING_ORACLE["st15_scd_asof_enrich"] = """
WITH ver AS (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS version_no,
         ts AS eff_from,
         COALESCE(LEAD(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id),
                  TIMESTAMP '9999-12-31 00:00:00') AS eff_to
  FROM events WHERE event_type = 'signup'
), pur AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT CAST(v.version_no AS BIGINT) AS version_no,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       ROUND(CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS total_value
FROM pur p JOIN ver v
  ON p.user_id = v.user_id AND p.ts >= v.eff_from AND p.ts < v.eff_to
GROUP BY 1 ORDER BY version_no
"""


def st16_streaming_binned_quantiles(
    spark: SparkSession, sf: str
) -> DataFrame:
    """p50/p95/p99 read off a histogram sketch MAINTAINED BY A REAL
    Structured Streaming run (complete-mode availableNow replay of the
    events file): micro-batches fold into the bounded (type, bin)
    count matrix — streaming state bounded by the GRID, not the stream
    — and the quantile selection runs batch-side over the final merged
    sketch. The streaming twin of hq01 (identical bin convention:
    width 1.0, cap 511, lower-edge pick at cum ≥ ceil(p·n)), so the
    oracle is hq01's SQL — certifying that sketch partials merged
    across micro-batches equal the one-shot batch histogram."""
    from pyspark.sql import Window

    from .stateful import replay_binned_histogram

    hist = replay_binned_histogram(spark, f"{sf}/events.parquet")
    w = Window.partitionBy("event_type").orderBy("bin")
    cum = hist.withColumn("__cum", F.sum("bin_count").over(w)).withColumn(
        "__n", F.sum("bin_count").over(Window.partitionBy("event_type"))
    )
    pick = lambda p: F.min(  # noqa: E731 — lower edge of the crossing bin
        F.when(
            F.col("__cum") >= F.ceil(F.col("__n") * F.lit(p)), F.col("bin")
        )
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("__n").cast("bigint").alias("n_events"),
            pick(0.50).cast("int").alias("p50_bin"),
            pick(0.95).cast("int").alias("p95_bin"),
            pick(0.99).cast("int").alias("p99_bin"),
        )
        .orderBy("event_type")
    )


STREAMING_QUERIES["st16_streaming_binned_quantiles"] = st16_streaming_binned_quantiles

STREAMING_ORACLE["st16_streaming_binned_quantiles"] = """
WITH ev AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value) AS INT), 511) AS bin
  FROM events
), hist AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2
), cum AS (
  SELECT event_type, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cm,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM hist
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(MIN(CASE WHEN cm >= CEIL(n * 0.50) THEN bin END) AS INT)
         AS p50_bin,
       CAST(MIN(CASE WHEN cm >= CEIL(n * 0.95) THEN bin END) AS INT)
         AS p95_bin,
       CAST(MIN(CASE WHEN cm >= CEIL(n * 0.99) THEN bin END) AS INT)
         AS p99_bin
FROM cum GROUP BY event_type ORDER BY event_type
"""


# --- round-10: st17 streaming Count-Min, st18 streaming HLL ------------------

# Sketch geometry for the STREAMING sketch twins. Structural constants
# (not env-tunable) so the oracle SQL below and the Spark plan cannot
# fork; st17 mirrors cm01's default D×W, st18 mirrors hll02's HLL_P=8
# register layout (see functions/entrypoints.py) — the batch twins these
# replays are certified against.
ST17_CM_DEPTH = 4
ST17_CM_WIDTH = 512
ST18_HLL_P = 8
ST18_HLL_M = 1 << ST18_HLL_P
ST18_REST_BITS = 60 - ST18_HLL_P

# 60-bit md5 hash macro — mirrors functions/entrypoints._H60 (kept local:
# importing entrypoints from here would be circular).
_H60_SQL = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def st17_streaming_countmin(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 user event-count estimates read off a Count-Min sketch
    MAINTAINED BY A REAL Structured Streaming run (complete-mode
    availableNow replay of the events file): micro-batches fold into
    the D×W cell matrix — streaming state bounded by the sketch
    geometry, never the stream — and the point estimates (MIN over a
    key's D cells) run batch-side over the final merged matrix. The
    streaming twin of cm01 (identical seeded hash family), closing the
    streamed-sketch additivity pair begun by st16: cells are SUMS, so
    partials merged across micro-batches must equal the one-shot batch
    cells — which is exactly what the DuckDB oracle computes. The
    defining CM inequality (estimate >= true count, collisions only
    ADD) is emitted per user and certified."""
    from ..functions import dedup as dd
    from .stateful import replay_countmin_cells

    cells = replay_countmin_cells(
        spark,
        f"{sf}/events.parquet",
        depth=ST17_CM_DEPTH,
        width=ST17_CM_WIDTH,
    )
    truth = (
        load(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    )
    probe = (
        truth.orderBy(F.desc("true_count"), "user_id")
        .limit(10)
        .select(
            "user_id",
            "true_count",
            F.explode(
                F.sequence(F.lit(0), F.lit(ST17_CM_DEPTH - 1))
            ).alias("__d"),
        )
        .withColumn(
            "__b",
            dd.hash60(
                F.concat(
                    F.lit("cm"),
                    F.col("__d").cast("string"),
                    F.lit(":"),
                    F.col("user_id").cast("string"),
                )
            )
            % ST17_CM_WIDTH,
        )
    )
    return (
        probe.join(
            cells, (probe.__d == cells.__d) & (probe.__b == cells.__b)
        )
        .groupBy("user_id", "true_count")
        .agg(F.min("cell_count").cast("bigint").alias("cm_estimate"))
        .select(
            "user_id",
            "true_count",
            "cm_estimate",
            (F.col("cm_estimate") - F.col("true_count"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.desc("true_count"), "user_id")
    )


_ST17_H = _H60_SQL.format(x="'cm' || CAST(d AS VARCHAR) || ':' || k")

STREAMING_QUERIES["st17_streaming_countmin"] = st17_streaming_countmin

STREAMING_ORACLE["st17_streaming_countmin"] = f"""
WITH keyed AS (
  SELECT CAST(user_id AS VARCHAR) AS k, d
  FROM events
  CROSS JOIN (SELECT unnest(range({ST17_CM_DEPTH})) AS d)
), cells AS (
  SELECT d, ({_ST17_H}) % {ST17_CM_WIDTH} AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM keyed GROUP BY 1, 2
), truth AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM events GROUP BY user_id
  ORDER BY true_count DESC, user_id LIMIT 10
), probe AS (
  SELECT user_id, true_count, d,
         ({_H60_SQL.format(
             x="'cm' || CAST(d AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"
         )}) % {ST17_CM_WIDTH} AS b
  FROM truth CROSS JOIN (SELECT unnest(range({ST17_CM_DEPTH})) AS d)
)
SELECT p.user_id, p.true_count,
       CAST(MIN(c.c) AS BIGINT) AS cm_estimate,
       CAST(MIN(c.c) - p.true_count AS BIGINT) AS overestimate
FROM probe p JOIN cells c ON p.d = c.d AND p.b = c.b
GROUP BY p.user_id, p.true_count
ORDER BY p.true_count DESC, p.user_id
"""


def st18_streaming_hll_registers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type HLL register digests MAINTAINED BY A REAL Structured
    Streaming run: micro-batches MAX their (type, bucket) rho values
    into the register matrix — max IS the HLL merge operator, so the
    availableNow replay's final registers must equal the one-shot
    batch registers, which is exactly what the DuckDB oracle computes
    from the same hash family (hll02's layout). Completes the
    streamed-sketch additivity TRIPLE: st16 merged histogram counts
    (sums), st17 merges Count-Min cells (sums), this merges HLL
    registers (maxes) — the three state shapes a 100 TB streaming
    monitor runs on. State bounded by |types| × 2^p. Two exact-integer
    digests (occupancy-weighted and rho mass) pin the registers
    value-for-value."""
    from .stateful import replay_hll_registers

    regs = replay_hll_registers(
        spark,
        f"{sf}/events.parquet",
        hll_m=ST18_HLL_M,
        rest_bits=ST18_REST_BITS,
    )
    return (
        regs.groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("occupied"),
            F.sum("register_rho").cast("bigint").alias("rho_sum"),
            F.sum((F.col("__b") + 1) * F.col("register_rho"))
            .cast("bigint")
            .alias("bucket_weighted_digest"),
        )
        .select(
            F.col("__g").alias("event_type"),
            "occupied",
            "rho_sum",
            "bucket_weighted_digest",
        )
        .orderBy("event_type")
    )


_ST18_H = _H60_SQL.format(x="CAST(user_id AS VARCHAR)")
_ST18_REST_ZERO = ST18_REST_BITS + 1

STREAMING_QUERIES["st18_streaming_hll_registers"] = st18_streaming_hll_registers

STREAMING_ORACLE["st18_streaming_hll_registers"] = f"""
WITH hashed AS (
  SELECT event_type,
         ({_ST18_H}) % {ST18_HLL_M} AS b,
         ({_ST18_H}) // {ST18_HLL_M} AS rest
  FROM events
), regs AS (
  SELECT event_type, b,
         MAX(CASE WHEN rest = 0 THEN {_ST18_REST_ZERO}
                  ELSE {ST18_REST_BITS} - length(bin(rest)) + 1 END) AS rho
  FROM hashed GROUP BY event_type, b
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS occupied,
       CAST(SUM(rho) AS BIGINT) AS rho_sum,
       CAST(SUM((b + 1) * rho) AS BIGINT) AS bucket_weighted_digest
FROM regs
GROUP BY event_type
ORDER BY event_type
"""


# --- round-10: st19 streaming Bloom filter -----------------------------------

ST19_M_BITS = 1024
ST19_K = 3


def st19_streaming_bloom_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus Bloom filter MAINTAINED BY A REAL Structured
    Streaming run: micro-batches OR their document fingerprints' bit
    contributions into the m/64-word table — OR is the Bloom merge
    operator, so the availableNow replay's final words must equal the
    one-shot batch filter, which is exactly what the DuckDB oracle
    computes from the same seeded md5 positions. This extends the
    streamed-sketch merge family to its third algebra: st16/st17 merge
    by SUM, st18 by MAX, this by OR — together the complete set of
    bounded-state shapes a streaming dedup/membership layer runs on
    (bf01 is the batch consumer of exactly this artifact shape).
    Output: the 32 words with their set-bit counts."""
    from .stateful import replay_bloom_words

    words = replay_bloom_words(
        spark, f"{sf}/documents.parquet", m_bits=ST19_M_BITS, k=ST19_K
    )
    return (
        words.select(
            F.col("__widx").cast("bigint").alias("word_index"),
            F.col("word").cast("bigint").alias("word"),
            F.bit_count("word").cast("int").alias("bits_set"),
        )
        .orderBy("word_index")
    )


_ST19_FP = "md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))"

STREAMING_QUERIES["st19_streaming_bloom_filter"] = st19_streaming_bloom_filter

STREAMING_ORACLE["st19_streaming_bloom_filter"] = f"""
WITH fp AS (
  SELECT {_ST19_FP} AS f FROM documents
), contribs AS (
{" UNION ALL ".join(
    f'''(SELECT ({_H60_SQL.format(x=f"'bf{i}:' || f")} % {ST19_M_BITS}) // 32
           AS word_index,
         CAST(1 AS BIGINT)
           << CAST(({_H60_SQL.format(x=f"'bf{i}:' || f")} % {ST19_M_BITS})
                   % 32 AS INT) AS b
  FROM fp)'''
    for i in range(ST19_K)
)}
)
SELECT CAST(word_index AS BIGINT) AS word_index,
       CAST(bit_or(b) AS BIGINT) AS word,
       CAST(bit_count(bit_or(b)) AS INT) AS bits_set
FROM contribs
GROUP BY word_index
ORDER BY word_index
"""


# --- round-11: st20 streaming bottom-k (KMV) sample --------------------------

#: st20's per-type sample size (the KMV k). 32 keeps the state string
#: ~1 KB per group and the estimate's relative error ~1/sqrt(k-1) ≈ 18%
#: — a monitor knob, mirrored into the oracle from this constant.
ST20_K = 32

_ST20_2P60 = float(1 << 60)


def st20_streaming_bottomk_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type bottom-k (KMV) distinct-user sample MAINTAINED BY A REAL
    multi-batch Structured Streaming run (events staged into 4 files,
    maxFilesPerTrigger=1): micro-batches merge their user hashes into
    the per-type k-smallest set via applyInPandasWithState — "union,
    keep k smallest" is the KMV merge operator, so the streamed final
    state must equal the one-shot batch bottom-k the DuckDB oracle
    computes. Completes the streamed-sketch merge family's fourth state
    shape (order statistics) after st16/st17 (sums), st18 (maxes), st19
    (ORs), and adds what none of those carry: an actual uniform sample
    of the distinct keys (doc/user IDs to eyeball) next to the
    distinct-count estimate. The final per-group row is selected by max
    n_events — exact and monotone across emissions."""
    from .stateful import replay_bottomk_sample

    from pyspark.sql import Window

    emitted = replay_bottomk_sample(
        spark, f"{sf}/events.parquet", k=ST20_K
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    final = (
        emitted.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return final.select(
        "event_type",
        "n_events",
        "occupied",
        "kmv_threshold",
        "hashmod_sum",
        "user_sum",
        F.when(
            F.col("occupied") < ST20_K,
            F.col("occupied").cast("double"),
        )
        .otherwise(
            F.round(
                (F.col("occupied") - 1).cast("double")
                * F.lit(_ST20_2P60)
                / F.col("kmv_threshold"),
                2,
            )
        )
        .alias("distinct_estimate"),
    ).orderBy("event_type")


_ST20_H = _H60_SQL.format(x="CAST(user_id AS VARCHAR)")

STREAMING_QUERIES["st20_streaming_bottomk_sample"] = st20_streaming_bottomk_sample

STREAMING_ORACLE["st20_streaming_bottomk_sample"] = f"""
WITH hashed AS (
  SELECT event_type, user_id, ({_ST20_H}) AS h FROM events
), per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
), du AS (
  SELECT event_type, h, MIN(user_id) AS user_id
  FROM hashed GROUP BY event_type, h
), ranked AS (
  SELECT event_type, h, user_id,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM du
), samp AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS occupied,
         CAST(MAX(h) AS BIGINT) AS kmv_threshold,
         CAST(SUM(h % 1000000007) AS BIGINT) AS hashmod_sum,
         CAST(SUM(user_id) AS BIGINT) AS user_sum
  FROM ranked WHERE rn <= {ST20_K}
  GROUP BY event_type
)
SELECT p.event_type, p.n_events, s.occupied, s.kmv_threshold,
       s.hashmod_sum, s.user_sum,
       CASE WHEN s.occupied < {ST20_K} THEN CAST(s.occupied AS DOUBLE)
            ELSE ROUND(CAST(s.occupied - 1 AS DOUBLE) * {_ST20_2P60!r}
                       / s.kmv_threshold, 2)
       END AS distinct_estimate
FROM per p JOIN samp s ON p.event_type = s.event_type
ORDER BY p.event_type
"""


# --- round-12: st21 streaming MinHash resemblance ----------------------------

#: st21's signature width (the MinHash k). 16 mirrors the batch dedup
#: family's MINHASH_K so the streamed sketch is the same artifact the
#: LSH pipeline consumes; |sources| × 16 bounds the streaming state.
ST21_K = 16


def st21_streaming_minhash_resemblance(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Cross-source resemblance estimated from per-source MinHash
    signatures MAINTAINED BY A REAL multi-batch Structured Streaming
    run (documents staged into 4 files, maxFilesPerTrigger=1):
    micro-batches MIN their documents' permuted fingerprint hashes
    into the (source, permutation) signature matrix — element-wise min
    is the MinHash merge operator, so the streamed final signatures
    must equal the one-shot batch signatures the DuckDB oracle
    computes from the same affine family (functions/dedup's
    minhash_a/b over the 60-bit md5 base). Completes the streamed-
    sketch merge algebra's FIFTH state shape: sums (st16/st17), maxes
    (st18), ORs (st19), order statistics (st20), element-wise mins
    (this) — together every bounded-state lattice a streaming corpus
    monitor folds. The batch-side consumer estimates pairwise source
    resemblance as the matching-component fraction and certifies it
    next to the EXACT fingerprint-set Jaccard, the ground truth the
    estimate converges to in k — the streaming twin of hll04's
    overlap-planning question (which sources duplicate each other)
    answered without ever joining documents."""
    from ..functions import text as tx
    from .stateful import replay_minhash_signature

    sig = replay_minhash_signature(
        spark, f"{sf}/documents.parquet", k=ST21_K
    )
    # self-join of the one memory-sink table: rename BOTH sides' join
    # key (a bare "__j" stays ambiguous because the two branches share
    # the same source attributes)
    a = sig.select(
        F.col("__g").alias("source_a"),
        F.col("__j").alias("__ja"),
        F.col("sig").alias("__sa"),
    )
    b = sig.select(
        F.col("__g").alias("source_b"),
        F.col("__j").alias("__jb"),
        F.col("sig").alias("__sb"),
    )
    est = (
        a.join(b, F.col("__ja") == F.col("__jb"))
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.when(F.col("__sa") == F.col("__sb"), 1).otherwise(0)
            )
            .cast("int")
            .alias("sig_matches")
        )
    )
    # exact ground truth on the same element sets: distinct document
    # fingerprints per source (one distinct reduce; the pair grid and
    # everything after lives on the bounded |sources| roster)
    dfp = (
        load(spark, sf, "documents")
        .select("source", tx.fingerprint("text").alias("__fp"))
        .distinct()
    )
    cnt = dfp.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    inter = (
        dfp.select(F.col("source").alias("source_a"), "__fp")
        .join(
            dfp.select(F.col("source").alias("source_b"), "__fp"), "__fp"
        )
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    pairs = (
        cnt.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
        .join(
            cnt.select(
                F.col("source").alias("source_b"), F.col("n").alias("nb")
            ),
            F.col("source_a") < F.col("source_b"),
        )
    )
    return (
        pairs.join(est, ["source_a", "source_b"], "left")
        .join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce("sig_matches", F.lit(0)).cast("int").alias(
                "sig_matches"
            ),
            F.round(
                F.coalesce("sig_matches", F.lit(0)).cast("double")
                / F.lit(float(ST21_K)),
                4,
            ).alias("est_resemblance"),
            F.coalesce("exact_overlap", F.lit(0))
            .cast("bigint")
            .alias("exact_overlap"),
            F.round(
                F.coalesce("exact_overlap", F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(
                    "exact_overlap", F.lit(0)
                )).cast("double"),
                6,
            ).alias("exact_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


_ST21_FP = "md5(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))"
_ST21_H0 = f"({_H60_SQL.format(x='f')}) % 2147483648"

STREAMING_QUERIES["st21_streaming_minhash_resemblance"] = st21_streaming_minhash_resemblance

STREAMING_ORACLE["st21_streaming_minhash_resemblance"] = f"""
WITH dfp AS (
  SELECT DISTINCT source, {_ST21_FP} AS f FROM documents
), h AS (
  SELECT source, {_ST21_H0} AS h0 FROM dfp
), perm AS (
  SELECT source, j,
         CAST(MIN(((2 * j + 3) * h0 + (5 * j + 7)) % 2147483647)
              AS BIGINT) AS sig
  FROM h CROSS JOIN (SELECT unnest(range({ST21_K})) AS j)
  GROUP BY source, j
), est AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS INT)
           AS sig_matches
  FROM perm a JOIN perm b ON a.j = b.j AND a.source < b.source
  GROUP BY 1, 2
), cnt AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM dfp GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS exact_overlap
  FROM dfp a JOIN dfp b ON a.f = b.f AND a.source < b.source
  GROUP BY 1, 2
), pairs AS (
  SELECT x.source AS source_a, y.source AS source_b, x.n AS na, y.n AS nb
  FROM cnt x JOIN cnt y ON x.source < y.source
)
SELECT p.source_a, p.source_b,
       CAST(COALESCE(e.sig_matches, 0) AS INT) AS sig_matches,
       ROUND(CAST(COALESCE(e.sig_matches, 0) AS DOUBLE) / {float(ST21_K)!r},
             4) AS est_resemblance,
       CAST(COALESCE(i.exact_overlap, 0) AS BIGINT) AS exact_overlap,
       ROUND(CAST(COALESCE(i.exact_overlap, 0) AS DOUBLE)
             / CAST(p.na + p.nb - COALESCE(i.exact_overlap, 0) AS DOUBLE),
             6) AS exact_jaccard
FROM pairs p
LEFT JOIN est e ON e.source_a = p.source_a AND e.source_b = p.source_b
LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b
ORDER BY p.source_a, p.source_b
"""
