"""Structured Streaming wrapper around the incremental warehouse load.

The reference's only stream-like property is idempotent incremental
loading: re-running the batch pipeline over overlapping input inserts
only new ``transaction_id`` rows (reference src/load.py:585-696, test
tests/test_load.py:419-464). Those semantics are exactly
exactly-once-append, so the Spark-native form is a file-source stream
over a landing directory + ``foreachBatch`` running the same
transform → anti-join-append protocol per micro-batch (SURVEY §2.10).

Scale notes: the file source lists the landing dir incrementally and
checkpoints processed files, so a 1000-executor cluster picks up only
new CSVs per trigger; ``maxFilesPerTrigger`` bounds micro-batch size so
a backlog flush doesn't produce one giant batch. The probe of the fact
table's stored ids is the per-batch cost — at 100 TB fact scale that
existence join should prune on the fact table's date partitions (new
data is recent), which ``Warehouse.enrich_fact`` gets from the
date-partitioned layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import EngineConfig
from ..operators.transform import transform_transactions
from ..schemas import TRANSACTIONS_CSV_SCHEMA
from ..warehouse import Warehouse


def transactions_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of transaction CSVs landing in ``input_dir``.

    Same explicit all-string schema as the batch extract (no inference —
    streams can't do a second inference pass anyway)."""
    reader = (
        spark.readStream.option("header", True)
        .schema(TRANSACTIONS_CSV_SCHEMA)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(input_dir)


def start_incremental_load(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    cfg: EngineConfig | None = None,
    warehouse: Warehouse | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Run the batch ETL protocol per micro-batch over a CSV landing dir.

    ``foreachBatch`` gives each micro-batch as a batch DataFrame, so the
    exact transform/load code path (and its per-rule issue accounting)
    is reused — one implementation, two execution modes. Idempotency is
    end-to-end: the file source checkpoint prevents re-reading files,
    and the fact anti-join prevents re-inserting rows even if a batch is
    replayed after a crash (at-least-once delivery + idempotent sink =
    effectively exactly-once).

    ``available_now=True`` drains the current backlog and stops — the
    batch-parity mode used by tests and backfills; pass ``False`` for a
    long-running continuous ingest.
    """
    cfg = cfg or EngineConfig()
    wh = warehouse or Warehouse(spark)

    def _load_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        result = transform_transactions(batch_df, cfg.validation)
        try:
            wh.load_warehouse(result.tables)
        finally:
            result.release()

    stream = transactions_stream(spark, input_dir, max_files_per_trigger)
    writer = (
        stream.writeStream.foreachBatch(_load_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_windowed_rollup_stream(
    spark: SparkSession,
    events: DataFrame,
    checkpoint_dir: str,
    output_path: str,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous tumbling rollup → parquet append sink.

    Watermark + append mode means a window's row is emitted once, when
    the watermark passes window end — the standard late-data-tolerant
    streaming aggregation (SURVEY blueprint; no reference counterpart).
    """
    from .windows import tumbling_rollup

    rolled = tumbling_rollup(events, duration=duration, watermark=watermark)
    writer = (
        rolled.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
