"""ETL pipeline orchestration + CLI (reference src/etl_pipeline.py).

Phases: extract → transform → load, with the reference's observable
contract — per-phase counts, custom exception hierarchy, dry-run /
validate-only modes, summary printer, exit codes (0 success / 1 failure /
130 interrupt; reference src/etl_pipeline.py:628-658).
"""

from __future__ import annotations

import argparse
import logging
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .config import EngineConfig
from .operators.transform import TransformError, transform_transactions
from .operators.validate import ValidationError
from .sources.extract import ExtractError, extract_any
from .warehouse import LoadError, Warehouse

# handlers attach at the package root via logging_setup.setup_logger
# (CLI main() wires it); library callers who don't configure logging
# get the stdlib's silent default, same as the reference's import shape.
# NOT __name__: under `python -m package.pipeline` that is "__main__",
# which would orphan this logger from the configured package root —
# __package__ stays correct in both import and -m execution.
logger = logging.getLogger(f"{__package__}.pipeline")


# Reference error hierarchy (src/etl_pipeline.py:36-58)
class ETLError(Exception):
    pass


class PipelineExtractError(ETLError):
    pass


class PipelineTransformError(ETLError):
    pass


class PipelineLoadError(ETLError):
    pass


@dataclass
class PipelineResult:
    status: str = "pending"
    file_path: str = ""
    extracted_rows: int = 0
    transformed_rows: int = 0
    loaded_rows: int = 0
    skipped_rows: int = 0
    issue_counts: dict = field(default_factory=dict)
    dims_inserted: dict = field(default_factory=dict)
    phase_times: dict = field(default_factory=dict)
    total_time: float = 0.0
    error: str | None = None


def run_etl_pipeline(
    spark: SparkSession,
    file_path: str,
    cfg: EngineConfig | None = None,
    source_format: str = "auto",
    dry_run: bool = False,
    validate_only: bool = False,
) -> PipelineResult:
    """Reference src/etl_pipeline.py:190-398 contract."""
    cfg = cfg or EngineConfig()
    res = PipelineResult(file_path=file_path)
    t0 = time.time()
    tr = None
    try:
        # PHASE 1 — extract
        t = time.time()
        try:
            raw = extract_any(spark, file_path, fmt=source_format)
        except ExtractError as e:
            raise PipelineExtractError(str(e)) from e
        res.phase_times["extract"] = time.time() - t

        # PHASE 2 — transform; its first job counts the raw rows, so
        # the extract count comes from there instead of a second scan
        t = time.time()
        try:
            tr = transform_transactions(raw, cfg.validation)
        except (TransformError, ValidationError) as e:
            res.extracted_rows = getattr(e, "input_rows", 0)
            raise PipelineTransformError(str(e)) from e
        res.extracted_rows = tr.input_rows
        logger.info(
            "extract done: %d rows from %s in %.2fs",
            res.extracted_rows, file_path, res.phase_times["extract"],
        )
        res.transformed_rows = tr.valid_rows
        res.issue_counts = tr.issue_counts
        res.phase_times["transform"] = time.time() - t
        logger.info(
            "transform done: %d valid rows (%d dropped) in %.2fs",
            tr.valid_rows,
            res.extracted_rows - tr.valid_rows,
            res.phase_times["transform"],
        )

        if validate_only or dry_run:
            res.status = "dry_run" if dry_run else "validated"
            return res

        # PHASE 3 — load
        t = time.time()
        try:
            wh = Warehouse(spark, cfg.warehouse)
            # first run seeds the continuous calendar (the Spark form of
            # the reference's populate_dim_date.sql setup step, 1,826
            # dates 2022-2026; data dates inside the range then skip as
            # idempotent-append no-ops). The seed runs inside the
            # dim_date worker thread so it overlaps the other dim loads.
            stats = wh.load_warehouse(
                tr.tables,
                seed_dates=(cfg.dim_date_start, cfg.dim_date_end),
            )
        except LoadError as e:
            raise PipelineLoadError(str(e)) from e
        res.loaded_rows = stats.fact_inserted
        res.skipped_rows = stats.fact_skipped
        res.dims_inserted = stats.dims_inserted
        res.phase_times["load"] = time.time() - t
        logger.info(
            "load done: %d inserted, %d skipped in %.2fs",
            res.loaded_rows, res.skipped_rows, res.phase_times["load"],
        )

        # rejects quarantine: invalid rows (with their failed-rule
        # labels) are appended, never dropped, when a path is configured
        # — only once the load is accepted, so a load refused by the
        # lock or the layout check leaves no rows for its rerun to
        # append a second time
        if cfg.quarantine_path and tr.invalid is not None and any(
            res.issue_counts.values()
        ):
            (
                tr.invalid.withColumn(
                    "failed_rules", F.concat_ws(",", "__failed_rules")
                )
                .drop("__failed_rules")
                .write.mode("append")
                .parquet(cfg.quarantine_path)
            )

        res.status = "success"
    except ETLError as e:
        res.status = "failed"
        res.error = str(e)
        logger.error("pipeline failed: %s", e)
    finally:
        # the batch's cache goes with the batch, whatever its outcome
        if tr is not None:
            tr.release()
        res.total_time = time.time() - t0
    return res


def print_pipeline_summary(res: PipelineResult) -> None:
    """Reference src/etl_pipeline.py:405-468."""
    print("=" * 60)
    print("ETL PIPELINE SUMMARY")
    print("=" * 60)
    print(f"Status:            {res.status}")
    print(f"Source file:       {res.file_path}")
    print(f"Rows extracted:    {res.extracted_rows}")
    print(f"Rows valid:        {res.transformed_rows}")
    print(f"Rows loaded:       {res.loaded_rows}")
    print(f"Rows skipped:      {res.skipped_rows}")
    if res.issue_counts:
        shown = {k: v for k, v in res.issue_counts.items() if v}
        if shown:
            print(f"Validation issues: {shown}")
    for phase, secs in res.phase_times.items():
        print(f"  {phase:<10} {secs:6.2f}s")
    print(f"Total time:        {res.total_time:.2f}s")
    if res.error:
        print(f"Error:             {res.error}")
    print("=" * 60)


def parse_arguments(argv=None):
    """Reference src/etl_pipeline.py:475-542 flags."""
    p = argparse.ArgumentParser(description="PySpark ETL pipeline")
    p.add_argument("--file", required=True, help="transactions CSV/JSONL path")
    p.add_argument(
        "--format",
        choices=("auto", "csv", "jsonl", "parquet", "orc"),
        default="auto",
        help="source format (auto = by file extension; .gz/.bz2/.zst"
        " compression suffixes are transparent)",
    )
    p.add_argument("--warehouse", default="/tmp/spark_warehouse")
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--validate-only", action="store_true")
    p.add_argument("--verbose", action="store_true")
    p.add_argument(
        "--log-dir",
        default="logs",
        help="directory for the rotating pipeline log file",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    from .session import get_spark
    from .config import WarehouseConfig
    from .logging_setup import LoggingConfig, setup_logger

    args = parse_arguments(argv)
    setup_logger(
        __package__,
        LoggingConfig(
            log_dir=args.log_dir,
            level="DEBUG" if args.verbose else "INFO",
        ),
    )
    spark = get_spark("etl_pipeline")
    if args.verbose:
        spark.sparkContext.setLogLevel("INFO")
    cfg = EngineConfig(warehouse=WarehouseConfig(path=args.warehouse))
    try:
        res = run_etl_pipeline(
            spark,
            args.file,
            cfg,
            source_format=args.format,
            dry_run=args.dry_run,
            validate_only=args.validate_only,
        )
    except KeyboardInterrupt:
        return 130
    print_pipeline_summary(res)
    return 0 if res.status in ("success", "dry_run", "validated") else 1


if __name__ == "__main__":
    sys.exit(main())
